package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for web-scale corpora. All are expressed as
  * shuffle-on-key group-bys / self-joins over compact signatures so
  * the heavy `text` column never travels through more than one
  * shuffle, and candidate generation stays linear in corpus size
  * (LSH banding), never quadratic.
  */
object Dedup {
  /** Small inputs (fewer partitions than cores, e.g. one parquet
    * file) would compute the expensive per-row signatures on a single
    * task; spread them first. Large inputs pass through untouched.
    */
  private[operators] def spreadSmallInput(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** Exact dedup: keep the lowest-id row per identical text.
    * One hash-shuffle on the 128-bit digest, not on the text itself.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("__digest").orderBy(col(idCol))
    df.withColumn("__digest", md5(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__digest", "__rn")
  }

  /** Character shingles (k-grams, stride 1, capped) of lowercased text. */
  def shingles(text: Column, k: Int = 5, cap: Int = 2048): Column =
    slice(transform(sequence(lit(0), greatest(length(text) - k, lit(0))),
      i => substring(lower(text), i + 1, lit(k))), 1, cap)

  /** MinHash signature over an already-materialized shingle column:
    * for each of `numHashes` permutations, the minimum of seeded
    * xxhash64 over the shingle set.
    */
  def minHashSignatureFromShingles(sh: Column, numHashes: Int = 32): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(sh, s => xxhash64(lit(seed), s)))
    }: _*)

  /** MinHash signature of a text column. Prefer staging [[shingles]]
    * into its own column first (see [[minHashPairs]]) — inlining the
    * shingle expression `numHashes` times makes the Catalyst tree
    * quadratic.
    */
  def minHashSignature(text: Column, k: Int = 5, numHashes: Int = 32): Column =
    minHashSignatureFromShingles(shingles(text, k), numHashes)

  /** LSH band keys from a minhash signature: hash of each band of
    * `rowsPerBand` signature entries. Two docs sharing any band key
    * are near-dup candidates.
    */
  def minHashBands(sig: Column, numHashes: Int = 32, rowsPerBand: Int = 4): Column =
    array((0 until numHashes / rowsPerBand).map { b =>
      xxhash64(lit(b) +: (0 until rowsPerBand)
        .map(r => sig.getItem(b * rowsPerBand + r)): _*)
    }: _*)

  /** Band keys as plain concatenated strings (band index + entries) —
    * the ANSI-SQL-mirrorable form the md5-basis oracle gate uses;
    * equality semantics identical to [[minHashBands]] (hashing band
    * keys only compresses them).
    */
  def minHashBandsConcat(sig: Column, numHashes: Int = 32, rowsPerBand: Int = 4): Column =
    array((0 until numHashes / rowsPerBand).map { b =>
      concat_ws(",", lit(b) +: (0 until rowsPerBand)
        .map(r => sig.getItem(b * rowsPerBand + r)): _*)
    }: _*)

  /** 60-bit md5-derived hash of a column — the DuckDB-computable hash
    * basis (`CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)` on the
    * oracle side), used by the oracle-checked gate variants of the
    * signature operators.
    */
  def hash60md5(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** One-permutation MinHash signature (single kernel pass over the
    * text: shingle -> one hash -> min per hash bucket, rotation
    * densification for empty buckets — see
    * [[DedupKernels.onePermMinHash]]). `numHashes` times cheaper than
    * the seeded form: the seeded signature made q33 the slowest gate
    * query two rounds running, and its cost was pure hashing (2048
    * shingles x 32 seeded hashes per doc).
    */
  def minHashSignatureOnePerm(text: Column, k: Int = 5, numBuckets: Int = 32,
                              cap: Int = 2048, basis: String = "xx"): Column =
    org.apache.spark.sql.GraftSqlBridge.staticInvoke(
      Class.forName("graft.operators.DedupKernels"),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false),
      "onePermMinHash",
      Seq(text, lit(k), lit(cap), lit(numBuckets), lit(basis)),
      Seq(org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.StringType))

  /** MinHash/LSH near-duplicate candidate pairs with estimated jaccard
    * >= threshold. Returns (id_a, id_b, jaccard_est) with id_a < id_b.
    * Signatures are one-permutation minhash ([[minHashSignatureOnePerm]];
    * basis "xx" = fast 64-bit hash, "md5" = the DuckDB-mirrorable
    * oracle basis with string band keys).
    *
    * Pipeline: signature -> identical-signature star-encoding -> band
    * explode (representatives only) -> capped bucket self-join on IDS
    * -> signatures joined back once -> agreement estimate. Only
    * 32-entry signatures ever shuffle, never the text; candidate
    * volume stays linear even on duplicate floods:
    *
    *  - rows sharing an identical signature (exact and near-exact
    *    duplicates) are emitted as (representative, member) star
    *    pairs with jaccard_est = 1.0 instead of the quadratic clique
    *    — duplicate CLUSTERS are unchanged (connected components are
    *    identical), and only the min-id representative enters the LSH
    *    banding;
    *  - remaining pathological buckets are capped at `maxBucket`
    *    members (deterministic by id; capped members still pair
    *    through their other bands);
    *  - pair dedup runs on (id_a, id_b) BEFORE signatures attach, so
    *    multi-band collisions never re-shuffle payloads.
    */
  def minHashPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, numHashes: Int = 32, rowsPerBand: Int = 4,
                   threshold: Double = 0.5, maxBucket: Int = 4096,
                   basis: String = "xx"): DataFrame = {
    val sigs = spreadSmallInput(df).select(col(idCol).as("__id"),
      minHashSignatureOnePerm(col(textCol), k, numHashes, basis = basis).as("__sig"))
    val bandsOf = (sig: Column) =>
      if (basis == "md5") minHashBandsConcat(sig, numHashes, rowsPerBand)
      else minHashBands(sig, numHashes, rowsPerBand)
    val wSig = Window.partitionBy(col("__sig"))
    val tagged = sigs.withColumn("__rep", min(col("__id")).over(wSig))
    val starPairs = tagged.filter(col("__id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("__id").as("id_b"),
        lit(1.0).as("jaccard_est"))
    val reps = tagged.filter(col("__id") === col("__rep"))
      .select("__id", "__sig")
    val banded = reps.withColumn("__band", explode(bandsOf(col("__sig"))))
      .select("__band", "__id")
    val estimated = Similarity.bandPairs(banded, "__id", maxBucket)
      .join(reps.select(col("__id").as("id_a"), col("__sig").as("__sig_a")), "id_a")
      .join(reps.select(col("__id").as("id_b"), col("__sig").as("__sig_b")), "id_b")
      .withColumn("jaccard_est",
        size(filter(zip_with(col("__sig_a"), col("__sig_b"),
          (x, y) => x === y), b => b)).cast("double") / numHashes)
      .filter(col("jaccard_est") >= threshold)
      .select("id_a", "id_b", "jaccard_est")
    estimated.unionByName(starPairs)
  }

  /** SimHash: 64-bit signature whose hamming distance tracks cosine
    * similarity of the shingle sets; built with bit-vote aggregation
    * over shingle hashes, all in builtin array functions.
    */
  def simHash(text: Column, k: Int = 5): Column =
    simHashFromHashes(transform(shingles(text, k), s => xxhash64(s)))

  /** Production-basis SimHash as one fused kernel call (fnv64
    * shingles, full 64 bits) — ~10x cheaper per row than the
    * DuckDB-mirrorable [[simHashMd5]]; use it wherever the signature
    * is never oracle-compared (see BENCH/BASELINE.md's basis table).
    */
  def simHashFast(text: Column, k: Int = 5, cap: Int = 2048): Column =
    org.apache.spark.sql.GraftSqlBridge.staticInvoke(
      Class.forName("graft.operators.DedupKernels"),
      org.apache.spark.sql.types.LongType,
      "simHash64Fast",
      Seq(text, lit(k), lit(cap)),
      Seq(org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.IntegerType))

  /** md5-basis SimHash as one fused kernel call (shingle -> 60-bit
    * md5 hash -> bit votes, [[DedupKernels.simHash60Md5]]) —
    * value-identical to
    * `simHashFromHashes(transform(shingles(text), hash60md5))` and
    * hence to the relational DuckDB mirror, without materializing the
    * hash array or carrying the per-shingle md5 expression chain
    * through planning/codegen.
    */
  def simHashMd5(text: Column, k: Int = 5, cap: Int = 2048): Column =
    org.apache.spark.sql.GraftSqlBridge.staticInvoke(
      Class.forName("graft.operators.DedupKernels"),
      org.apache.spark.sql.types.LongType,
      "simHash60Md5",
      Seq(text, lit(k), lit(cap)),
      Seq(org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.IntegerType))

  /** SimHash over an already-materialized shingle-hash array column:
    * per-bit +-1 votes over the hashes, bit set when the vote is
    * non-negative. One scalar kernel call
    * ([[DedupKernels.simHashVotes]]) — the equivalent 64x aggregate()
    * expression tree evaluates its lambdas interpreted and cost ~90x
    * the md5 shingle stage at sf0.1.
    */
  def simHashFromHashes(hashes: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.staticInvoke(
      Class.forName("graft.operators.DedupKernels"),
      org.apache.spark.sql.types.LongType,
      "simHashVotes",
      Seq(hashes),
      Seq(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false)))

  /** Hamming distance between two 64-bit signatures (codegen'd
    * bit_count).
    */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Fingerprint near-duplicate pairs within hamming distance
    * `maxDist` over a `bits`-bit integer fingerprint column (an image
    * perceptual hash, [[simHash]], or any compact signature):
    * multi-index hashing (Norouzi et al., "Fast Search in Hamming
    * Space with Multi-Index Hashing", CVPR 2012).
    *
    * Pigeonhole guarantee: the fingerprint splits into `bands`
    * disjoint bit segments; a pair differing in at most `maxDist`
    * bits has fewer differing bits than segments when
    * `bands > maxDist`, so at least one segment matches EXACTLY.
    * Candidates therefore come from a bucket self-join on
    * (segment index, segment value) — linear volume for
    * non-degenerate corpora — and the pair set is EXACT
    * (brute-force-equal over representatives), not approximate,
    * up to the `maxBucket` cap.
    *
    * Scale shape mirrors [[minHashPairs]]: identical fingerprints
    * (exact-duplicate floods — 10^9 copies of the same image share a
    * phash) are star-encoded around the min-id representative
    * (distance 0) so the clique never materializes and only
    * representatives enter the banding; pathological buckets (the
    * all-zero phash of blank frames) are capped deterministically by
    * id; candidate pairs travel as ids only and fingerprints
    * re-attach once after pair dedup. Returns
    * (id_a, id_b, hamming) with id_a < id_b.
    *
    * CANDIDATE FLOOR (sizing rule): on fingerprints with ~uniform
    * segments, each band bucket holds ~n / 2^(bits/bands) reps, so
    * the self-join generates ~bands * n^2 / 2^(bits/bands + 1)
    * candidates even when NO real near-dups exist. Fewer, WIDER
    * bands are therefore strictly better (the pigeonhole only needs
    * bands > maxDist), which is what `bands = 0` (auto — the
    * smallest divisor of `bits` above `maxDist`) picks; the old
    * fixed default of 8 bands made the floor n^2/2^9 at bits = 64
    * and OOM'd a 4M-row probe. The floor still grows quadratically:
    * past n >> 2^(bits/(maxDist+1)) (e.g. ~10M rows for 64-bit
    * fingerprints at maxDist 3), lower maxDist, shard the corpus
    * (per tile / per source), or use a longer fingerprint — an
    * all-pairs hamming join below the fingerprint's collision
    * entropy returns a quadratic OUTPUT no plan can make linear.
    */
  def hammingNearDups(df: DataFrame, idCol: String, fpCol: String,
                      maxDist: Int = 3, bits: Int = 64, bands: Int = 0,
                      maxBucket: Int = 4096): DataFrame = {
    val nBands =
      if (bands > 0) bands
      else (maxDist + 1 to bits).find(b => bits % b == 0).getOrElse(bits)
    require(nBands > maxDist,
      s"pigeonhole exactness needs bands > maxDist (got $nBands <= $maxDist)")
    require(bits > 0 && bits <= 64 && bits % nBands == 0,
      s"bits must divide into equal-width bands (bits=$bits, bands=$nBands)")
    val width = bits / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    // materialize the (id, fingerprint) pairs through one exchange:
    // the plan below fans out into 5 branches (star window, banding,
    // two fingerprint re-attach joins), and without a shared exchange
    // subtree each branch would recompute fpCol — catastrophic when
    // the fingerprint is an expensive expression (a 60-bit-vote
    // simhash tree). The same hash shuffle then serves the __fp
    // window directly. Shuffle files, not cache: replayable at scale.
    // null fingerprints (e.g. simhash of a null text) carry no
    // similarity evidence and must NOT pair: without this filter the
    // __fp window would clique every null-fp row together and the
    // downstream resolve step would silently drop all but one such
    // document. The filter sits before the exchange so it pushes
    // into the scan.
    val fps = spreadSmallInput(df)
      .select(col(idCol).as("__id"), col(fpCol).cast("long").as("__fp"))
      .filter(col("__fp").isNotNull)
      .repartition(col("__fp"))
    val wFp = Window.partitionBy("__fp")
    val tagged = fps.withColumn("__rep", min(col("__id")).over(wFp))
    val starPairs = tagged.filter(col("__id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("__id").as("id_b"),
        lit(0).as("hamming"))
    val reps = tagged.filter(col("__id") === col("__rep")).select("__id", "__fp")
    // band key = segment index in the bits above the segment value.
    // Unlike the id-only bandPairs path (right for WIDE payloads like
    // embedding vectors), the 8-byte fingerprint RIDES the band
    // explode: the hamming filter then runs inside the bucket
    // self-join and the two post-distinct fingerprint re-attach
    // joins (two exchanges of the rep set) disappear — metadata
    // travels, payloads would not (guide: shuffle keys and metadata,
    // not payloads; an 8-byte long IS the metadata here). The pair
    // set is identical: hamming is a pure function of the carried
    // fingerprints, the per-band-collision filter commutes with the
    // final (id_a, id_b) distinct, and capBuckets orders by id
    // exactly as before.
    val banded = reps.select(col("__id"), col("__fp"),
      explode(array((0 until nBands).map { b =>
        lit(b.toLong << width).bitwiseOR(
          shiftrightunsigned(col("__fp"), b * width).bitwiseAND(lit(mask)))
      }: _*)).as("__band"))
    val capped = Similarity.capBuckets(banded, "__id", maxBucket)
    val pairs = capped
      .select(col("__band"), col("__id").as("id_a"), col("__fp").as("__fp_a"))
      .join(capped.select(col("__band"), col("__id").as("id_b"),
        col("__fp").as("__fp_b")), "__band")
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hamming(col("__fp_a"), col("__fp_b")).cast("int"))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
      .distinct()
    pairs.unionByName(starPairs)
  }

  /** Raw edges the local union-find pass may hold: ~150 B each
    * within an eighth of the driver heap.
    */
  private def localEdgeBudget: Long = Runtime.getRuntime.maxMemory / 8 / 150

  /** Connected components over a near-dup PAIR list — the cluster
    * resolution step a dedup pipeline needs after [[minHashPairs]] /
    * [[hammingNearDups]] / `Similarity.embeddingNearDups` (pairs
    * alone cannot answer "keep one row per duplicate cluster": near-
    * dup relations chain, A~B~C with A!~C). Returns one row per
    * graph node: (`node`, `component`) with component = the MINIMUM
    * node id reachable from it — so the component id doubles as the
    * deterministic keeper id. The returned frame is persisted and
    * already materialized (its parents are released before
    * returning); unpersist it when done — CacheManager holds
    * Dataset.persist entries until told otherwise.
    *
    * Pair lists small enough to count under `localEdgeThreshold`
    * (with integral ids) resolve in ONE driver union-find pass over
    * the collected edges instead — near-dup pair lists are the
    * violations, not the corpus, so this is the common case even at
    * large input scale, and the guard is an exact count of the
    * persisted edge cache (which round 1 would materialize anyway),
    * never a stats guess. The local pass costs the driver ~150 B per
    * raw symmetrized edge transiently (collected rows + union-find
    * maps + the output array), so the default threshold keeps it
    * within an eighth of the driver heap (`Runtime.maxMemory`): about
    * 0.9M edges at Spark's 1 GB default heap, about 7M at 8 GB. Below
    * that, several distributed rounds of 3 jobs each cost more wall
    * than the collect (measured: the 15k-point dbscan gate's
    * ~900k-edge core graph spent 1.1-2.7 s in pointer-doubling rounds
    * vs ~0.3 s local). `0L` forces the distributed path. Rows with a
    * null id on either side never crash either path: a null id is
    * not a node, and the non-null side of a half-null pair still
    * comes out as an isolated component.
    *
    * Distributed algorithm: min-label propagation with POINTER DOUBLING — each
    * round takes label(x) = min(label(x), neighbor labels, then
    * label(label(x))), so the minimum spreads along edges AND jumps
    * through already-propagated labels: rounds grow with
    * log(diameter), not diameter (a 41-node chain converges in 6
    * rounds, spec-pinned). A round is two equi-joins + one map-side-
    * combined min agg on the node key; nothing ever leaves the
    * (node, label) shape, so a round shuffles |V| + |E| rows. Each
    * round's result is persisted, MATERIALIZED by the convergence
    * count, and re-based as a plan LEAF (createDataFrame over the
    * cached RDD) — without that, iteration N's Catalyst plan nests
    * all N-1 predecessors and planning itself blows up (observed as
    * an AQE explain-string OOM at depth ~40). `maxIters` is a loud
    * backstop, not a silent cap: if the graph fails to converge the
    * call THROWS rather than returning partially-merged components.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 50,
                          localEdgeThreshold: Long = localEdgeBudget): DataFrame = {
    val spark = pairs.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // a null id is not a node: drop null-src rows up front (the
    // symmetrized union still registers the non-null side of a
    // half-null pair as an isolated node via its mirror row)
    val edgesRaw = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .filter(col("src").isNotNull)
      .persist(lvl)
    val retired = scala.collection.mutable.ListBuffer.empty[DataFrame]
    retired += edgesRaw
    try {
      // Exact-count guard for a LOCAL fast path, taken on the RAW
      // symmetrized count — BEFORE the distinct, so the fast path
      // costs one pass over the pair list plus a collect and never
      // shuffles at all (the distinct only helps the distributed
      // rounds; duplicate edges are idempotent no-ops to union-find,
      // and localComponents' one-direction filter dedups orientation
      // anyway). Raw >= distinct, so the guard is conservative: a
      // heavily-duplicated list just past the threshold runs
      // distributed, which is a cost choice, not a correctness one.
      // Near-dup pair lists are orders of magnitude smaller than the
      // corpus (they are the violations, not the data), so in the
      // common case the whole component resolution is one collect +
      // one driver union-find instead of log(diameter) rounds of 3
      // jobs each. Integral ids only (Spark's min over strings is
      // binary UTF-8 order, which java.lang.String ordering does not
      // match for non-BMP text — those stay on the distributed path).
      val rawCount = edgesRaw.count()
      val integralIds = {
        import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}
        Seq(edgesRaw.schema("src").dataType, edgesRaw.schema("dst").dataType)
          .forall(t => t == LongType || t == IntegerType || t == ShortType)
      }
      if (integralIds && rawCount <= localEdgeThreshold)
        return localComponents(edgesRaw, rawCount)
      val edges = edgesRaw.distinct().persist(lvl)
      retired += edges
      var labels = edges.groupBy(col("src").as("node"))
        .agg(min("dst").as("__nmin"))
        .select(col("node"), least(col("node"), col("__nmin")).as("label"))
        .persist(lvl)
      retired += labels
      // propagation only follows real (non-null-partner) edges; the
      // node set is carried by `labels`, so a node whose every pair
      // partner was null still rides through every round as its own
      // isolated component
      val realEdges = edges.filter(col("dst").isNotNull)
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        // 1-hop: min over own + neighbor labels, LEFT-joined onto the
        // full label frame (an inner join here would silently drop
        // any node with no labeled neighbor this round — isolated
        // nodes would vanish from the output). least() skips the
        // null __nl of neighborless nodes. Persisted because the
        // pointer jump references it TWICE — without the persist the
        // join+agg subtree would be planned (and possibly executed)
        // twice per round; as an InMemoryRelation both branches share
        // one computation.
        val stepped = labels.join(
            realEdges
              .join(labels.select(col("node").as("dst"), col("label").as("__dl")), "dst")
              .groupBy(col("src").as("node")).agg(min("__dl").as("__nl")),
            Seq("node"), "left")
          .select(col("node"), least(col("label"), col("__nl")).as("label"))
          .persist(lvl)
        retired += stepped
        // pointer jump: follow the label's own label (left join: a
        // label is always a node id of the same component, but after
        // the 1-hop step it may not appear as a key of `stepped` if
        // it only ever occurs as a destination — keep own label then)
        val next0 = stepped.join(
            stepped.select(col("node").as("label"), col("label").as("__ll")),
            Seq("label"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("__ll"), col("label"))).as("label"))
          .persist(lvl)
        retired += next0
        val changed = next0.join(
            labels.select(col("node"), col("label").as("__old")), "node")
          .filter(col("label") =!= col("__old")).count() // materializes next0
        // re-base on the cached rows as a LEAF plan: truncates the
        // per-round Catalyst nesting while staying recomputable
        // (the RDD still carries lineage, bounded by maxIters)
        labels = spark.createDataFrame(next0.toDF().rdd, next0.schema)
        converged = changed == 0
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds — " +
            "the pair graph is deeper than any near-dup clustering " +
            "should be; raise maxIters only if that is expected")
      lastIterations.set(iter)
      val out = labels.withColumnRenamed("label", "component")
        .persist(lvl)
      out.count() // materialize before the finally releases parents
      out
    } finally retired.foreach(_.unpersist(blocking = false))
  }

  /** Rounds the last DISTRIBUTED [[connectedComponents]] run took
    * (diagnostic, e.g. for the adversarial-diameter probe to pin the
    * pointer-doubling bound ~ log2(diameter) + 1 detection round;
    * the local fast path leaves it untouched).
    */
  private[graft] val lastIterations = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Driver union-find over a small (exactly counted) edge list — the
    * local fast path of [[connectedComponents]]. Union always keeps
    * the MINIMUM root as the representative, so `find(x)` yields the
    * identical labelling to min-label propagation. Ids were verified
    * integral by the caller; they are processed as longs and cast
    * back to the edge frame's (union-widened) id type on output.
    */
  private def localComponents(edges: DataFrame, edgeCount: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, StructField, StructType}
    val spark = edges.sparkSession
    val idType = edges.schema("src").dataType
    // one direction suffices (the mirror adds no information); the
    // isNull clause keeps null-neighbor rows so their non-null
    // endpoint still registers as an isolated node, matching the
    // distributed path (aggregate min skips nulls there)
    val rows = edges
      .filter(col("src") <= col("dst") || col("dst").isNull)
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .collect()
    val parent = new scala.collection.mutable.LongMap[Long](
      math.min(8L * 1024 * 1024, math.max(16L, edgeCount)).toInt)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) { val gp = parent.getOrElse(p, p); parent.update(x, gp); x = p; p = gp }
      x
    }
    val nodes = new scala.collection.mutable.LongMap[Unit](parent.size.max(16))
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      val a = r.getLong(0)
      nodes.update(a, ())
      if (!r.isNullAt(1)) {
        val b = r.getLong(1)
        nodes.update(b, ())
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
        }
      }
      i += 1
    }
    def back(n: Long): Any = idType match {
      case LongType => n
      case IntegerType => n.toInt
      case ShortType => n.toShort
    }
    val out = new Array[Row](nodes.size)
    var j = 0
    nodes.foreachKey { n => out(j) = Row(back(n), back(find(n))); j += 1 }
    val schema = StructType(Seq(
      StructField("node", idType, nullable = false),
      StructField("component", idType, nullable = false)))
    val res = spark.createDataFrame(
        spark.sparkContext.parallelize(out.toIndexedSeq), schema)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    res.count() // honor the "already materialized" contract
    res
  }

  /** Keep exactly one row per duplicate cluster: rows whose id is its
    * component's minimum (plus every row in no pair at all). The
    * companion of [[connectedComponents]] for the standard "drop
    * near-duplicates" pipeline step — one left-anti join against the
    * non-keeper nodes, so `df`'s payload columns shuffle at most
    * once.
    *
    * Cache discipline: the |V|-row component labelling is released
    * here (not leaked to the caller); the dropped-id set the returned
    * plan reads is cached at the RDD level, NOT via Dataset.persist —
    * CacheManager pins Dataset caches until explicitly released, but
    * RDD cache blocks are dropped by the ContextCleaner once the
    * returned frame becomes unreachable, so a per-batch pipeline loop
    * does not accumulate cache entries across calls.
    */
  def keepComponentRepresentatives(df: DataFrame, idCol: String,
                                   pairs: DataFrame, aCol: String,
                                   bCol: String): DataFrame = {
    val spark = df.sparkSession
    val cc = connectedComponents(pairs, aCol, bCol)
    val drop0 = cc.filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    val dropRdd = drop0.toDF().rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val drop = spark.createDataFrame(dropRdd, drop0.schema)
    drop.count() // materialize before releasing the component cache
    cc.unpersist(blocking = false)
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Joint multimodal near-dup pairs over an image+caption corpus:
    * an emitted pair satisfies BOTH the fingerprint predicate
    * (perceptual-hash hamming <= maxDist) and the caption predicate
    * (word n-gram Jaccard >= minJaccard).
    *
    * Candidates come from the banded [[hammingNearDups]] join —
    * exact for the hamming predicate by pigeonhole — so the Jaccard
    * verify only touches fingerprint-near pairs; captions never
    * enter a shuffle until the (small) candidate set is known.
    * Identical-fingerprint floods keep the star encoding of
    * [[hammingNearDups]]: the Jaccard verify applies per EMITTED
    * edge (rep <-> member), not to the implied member <-> member
    * closure.
    */
  def jointNearDups(df: DataFrame, idCol: String, fpCol: String,
                    textCol: String, maxDist: Int, minJaccard: Double,
                    n: Int = 3, bits: Int = 64, bands: Int = 0,
                    maxBucket: Int = 4096): DataFrame = {
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in [0,1] (got $minJaccard)")
    val pairs = hammingNearDups(df.select(col(idCol), col(fpCol)),
      idCol, fpCol, maxDist, bits, bands, maxBucket)
    val txt = df.select(col(idCol), col(textCol))
    pairs
      .join(txt.toDF("id_a", "__ta"), "id_a")
      .join(txt.toDF("id_b", "__tb"), "id_b")
      .withColumn("jaccard", ngramJaccardFast(col("__ta"), col("__tb"), n))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("hamming"), col("jaccard"))
  }

  /** Word n-gram Jaccard similarity between two text columns
    * (exact, for verification / small candidate sets).
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    def grams(t: Column) = {
      val words = split(lower(t), " ")
      array_distinct(transform(sequence(lit(0), greatest(size(words) - n, lit(0))),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))))
    }
    val ga = grams(a); val gb = grams(b)
    val inter = size(array_intersect(ga, gb)).cast("double")
    // explicit null propagation: without it a null text slips through
    // concat_ws as "" and scores 0.0 instead of null
    when(a.isNotNull && b.isNotNull,
      inter / greatest(size(array_union(ga, gb)), lit(1)).cast("double"))
  }

  /** JITed kernel form of [[ngramJaccard]] (StaticInvoke into
    * `TextKernels.ngramJaccard`; identical values — integer set
    * arithmetic both ways). Prefer on hot paths: the expression
    * form's higher-order lambdas evaluate interpreted per element
    * and get re-inlined by Catalyst's project collapsing (measured
    * 25 s -> sub-second for the 5000-doc q52 gate at sf0.1).
    */
  def ngramJaccardFast(a: Column, b: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
    org.apache.spark.sql.GraftSqlBridge.staticInvoke(
      Class.forName("graft.operators.TextKernels"),
      DoubleType, "ngramJaccard",
      Seq(a, b, lit(n)), Seq(StringType, StringType, IntegerType))
  }
}
