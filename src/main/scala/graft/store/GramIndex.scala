package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED gram-postings index for INCREMENTAL CONTAINMENT probes —
  * "is this new document contained in some corpus document?" asked at
  * ingest (truncated re-crawls, quoted passages, eval questions embedded
  * in web pages), without ever self-joining or re-reading the corpus.
  * Completes the asymmetric-dedup story the way BandIndex completes the
  * Jaccard one: q_simjoin_containment is the batch self-join,
  * this store is its batch-vs-history form.
  *
  * Layout under `path` (all three hash-sharded, count pinned in meta —
  * the same pinned-at-creation discipline as the reference's
  * distributor params, wd/Parametrizable.java:24-27):
  *  - `postings/shard=S` — (x, doc_id, n): one row per distinct
  *    (shingle-hash, doc); `n` = that doc's distinct-set size rides
  *    along so the τ size filter (den·n ≥ num·na) kills candidates
  *    BEFORE any profile read. Sharded `pmod(hash(x), nShards)`.
  *  - `dfs/shard=S` — (x, df): document-frequency SUMMARY, one small row
  *    per token, same sharding. Appends add per-batch partial rows;
  *    probes fold with a sum. df is an OPTIMIZATION INPUT ONLY: it picks
  *    WHICH prefix tokens probe the postings, and the prefix filter is
  *    sound for ANY (na − ⌈τ·na⌉ + 1)-subset of A's tokens (pigeonhole:
  *    a qualifying B misses at most na − ⌈τ·na⌉ of them) — so stale,
  *    partial, or tombstone-inflated dfs can cost candidates, never
  *    correctness.
  *  - `profiles/shard=S` — (doc_id, n, sh): the exact verification sets,
  *    sharded on `pmod(hash(doc_id), nShards)`; the verify join reads
  *    only the candidate docs' shards.
  *  - `delta/seg_*` — unfolded APPEND segments (one single-file
  *    postings/dfs/profiles layer each, published atomically by
  *    rename): an append costs 3 file commits instead of ~one per
  *    touched shard per layout — the O(nShards) LSM commit floor the
  *    r16 scale harness measured at 165s per 151-doc insert on a
  *    6400-shard base. Probes union the (bounded) delta under their
  *    batch-bounded filters; [[compact]] folds segments into the
  *    sharded base.
  *  - `_gram_meta.json` — nShards.
  *
  * WRITE ORDER IS THE ISOLATION CONTRACT (the BandIndex discipline):
  * profiles commit BEFORE postings. Candidates come off the postings
  * scan and verify against profiles, so a probe catching an in-flight
  * batch observes {old postings, any profiles} — every candidate it can
  * generate has its verification profile. dfs commit last; a missing df
  * row reads as df = 0 (sorts rarest-first), which the soundness
  * argument above already covers.
  *
  * Append contract: batches carry DISJOINT doc sets. Takedowns:
  * [[delete]] tombstones are anti-joined by every probe and folded at
  * [[compact]]; dfs stay inflated until compact recomputes them from
  * the compacted postings (sound, see above). Streaming maintenance:
  * `StreamingIngest.gramIndexWriter`; containment-screened ingest
  * (contained batch docs never enter): `screenGramIngestWriter`. */
object GramIndex {
  val MetaFile = "_gram_meta.json"
  val DefaultShards = 64

  /** Marker for an in-flight delta fold (see [[compact]]): while it
    * stands, segment rows may exist in BOTH the sharded base and the
    * delta, so probes refuse loudly instead of double-counting. */
  val FoldingMarker = "_gram_folding"

  private def fsOf(spark: SparkSession, path: String) = {
    val root = new org.apache.hadoop.fs.Path(path)
    (root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  def shardOf(c: Column, nShards: Int): Column = pmod(hash(c), lit(nShards))

  private val Layers = Seq("postings", "dfs", "profiles")

  /** The probe-side shard read: manifest-backed when the layout has a
    * file manifest ([[FileManifest]] — ZERO exists/list calls, the fix
    * for the one probe cost that grew with the corpus: the per-dir
    * listing of ∝-corpus many shard dirs, measured as refresh_corpus's
    * 10.5→37.7s screen growth for a FIXED increment), falling back to
    * the marker-aware listing read for layouts mid-maintenance or
    * written before the manifest existed. */
  private def readLayer(spark: SparkSession, path: String, layer: String,
                        shards: Seq[Long]): DataFrame =
    FileManifest.readPartitions(spark, s"$path/$layer", shards)
      .getOrElse(SaltedStore.readPartitions(spark, s"$path/$layer", shards,
        partitionPrefix = "shard"))

  private def writeManifests(spark: SparkSession, path: String): Unit =
    Layers.foreach(l => FileManifest.write(spark, s"$path/$l"))

  /** Manifests die BEFORE any op that mutates the sharded file sets and
    * are reborn only after it commits — mid-op probes fall back to the
    * listing read, which handles every in-flight state. */
  private def dropManifests(spark: SparkSession, path: String): Unit =
    Layers.foreach(l => FileManifest.delete(spark, s"$path/$l"))

  private def writeMeta(spark: SparkSession, path: String, nShards: Int): Unit = {
    val (fs, root) = fsOf(spark, path)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, MetaFile), true)
    try out.write(s"""{"n_shards":$nShards}""".getBytes("UTF-8")) finally out.close()
  }

  /** nShards the index was created with; None if no index exists.
    * Every probe's first call — refuses a mid-migration layout and a
    * mid-fold delta (either can double-count or half-read). */
  def storedShards(spark: SparkSession, path: String): Option[Int] = {
    val (fs, root) = fsOf(spark, path)
    require(!fs.exists(new org.apache.hadoop.fs.Path(root, ReshardMarker)),
      s"probe: $path has an in-flight shard migration ($ReshardMarker) — " +
        "re-invoke GramIndex.reshard with the original shard count to finish it")
    require(!fs.exists(new org.apache.hadoop.fs.Path(root, FoldingMarker)),
      s"probe: $path has an in-flight delta fold ($FoldingMarker) — " +
        "re-run GramIndex.compact to finish it")
    readMeta(spark, path)
  }

  /** Raw meta read with NO marker guards — for the maintenance ops that
    * must run exactly when a marker stands (compact's fold recovery). */
  private def readMeta(spark: SparkSession, path: String): Option[Int] = {
    val (fs, root) = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(root, MetaFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      """"n_shards":(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    }
  }

  // ---- delta segments (the append grain) -----------------------------

  /** One parquet frame per delta LAYER across all published UNFOLDED
    * segments — None when no live segment exists. Hidden `.tmp_*` dirs
    * (in-flight publishes) are excluded by construction (dot-prefixed
    * paths are invisible to Spark's listing, and we glob explicit seg
    * dirs); segments already folded into the base but not yet reclaimed
    * ([[DeltaSegments]]) are excluded by the `_folded` list. */
  private def deltaLayer(spark: SparkSession, path: String,
                         layer: String): Option[DataFrame] = {
    val d = new org.apache.hadoop.fs.Path(path, "delta")
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    val segs = DeltaSegments.liveSegs(fs, d)
    if (segs.isEmpty) None
    else Some(spark.read.parquet(segs.map(p => s"$p/$layer"): _*))
  }

  /** Delta accumulation advisory: (published segment count, delta
    * bytes across all three layers). Every probe unions EVERY published
    * segment into its batch-bounded reads, so a caller that appends
    * per-micro-batch and never compacts converts the removed write
    * amplification into unbounded READ amplification — this number is
    * what tells them (the `SaltedStore.needsCompaction` discipline
    * applied to the delta layer). Pure driver listing, no Spark job —
    * free to call every maintenance tick. */
  def deltaAdvisory(spark: SparkSession, path: String): (Long, Long) = {
    val d = new org.apache.hadoop.fs.Path(path, "delta")
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    val segs = DeltaSegments.liveSegs(fs, d) // folded segs are read by no probe
    val bytes = segs.map { s =>
      fs.listStatus(s).filter(_.isDirectory).map(l =>
        fs.listStatus(l.getPath).filter(_.isFile).map(_.getLen).sum).sum
    }.sum
    (segs.length.toLong, bytes)
  }

  /** Whether the unfolded delta has accumulated past `maxSegments` —
    * the signal a periodic maintenance loop keys [[compact]] on (which
    * also folds tombstones). Steady state costs one directory listing. */
  def needsCompaction(spark: SparkSession, path: String,
                      maxSegments: Int = 8): Boolean =
    deltaAdvisory(spark, path)._1 > maxSegments

  /** (doc_id, x) DISTINCT set rows → the three sharded layouts. One
    * shard exchange per layout (the repartition-before-partitionBy rule
    * graft.Scaling r14 measured at 13× on the band index). */
  def write(sets: DataFrame, path: String,
            nShards: Int = DefaultShards): Unit = {
    val spark = sets.sparkSession
    // an index overwrite means the WHOLE index (the VectorIndex rule):
    // dynamic partition overwrite would leave untouched shard dirs of
    // the old generation (possibly a different shard count) in place
    val ovwMode = spark.conf
      .get("spark.sql.sources.partitionOverwriteMode", "static")
    require(!ovwMode.equalsIgnoreCase("dynamic"),
      "GramIndex.write under spark.sql.sources.partitionOverwriteMode=" +
        "dynamic is unsupported (stale shards/tombstones would survive); " +
        "use static overwrite, or append + delete + compact")
    // a standing streaming commit log belongs to the REPLACED index's
    // query lifecycle: a writer resuming under the same commitTag would
    // silently SKIP early batches of the new corpus as
    // "already committed" — a data-loss path, refused up front (the
    // dynamic-overwrite guard's philosophy). Rebuilders clear the log
    // or restart their stream under a fresh commitTag.
    val (fs, root) = fsOf(spark, path)
    require(!fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_commits")),
      s"GramIndex.write: $path carries a _graft_commits log from a " +
        "previous generation — a streaming writer resuming under the same " +
        "commitTag would silently skip early batches of the rebuilt index; " +
        "clear the log or use a fresh commitTag, then rebuild")
    writeLayouts(sets, path, nShards, "overwrite")
    writeMeta(spark, path, nShards)
    writeManifests(spark, path)
    // drop tombstones AND unfolded delta segments of the REPLACED
    // generation (stale tombstones would silently hide new docs with
    // reused ids; stale segments would resurrect replaced docs) — but
    // only AFTER the new layouts commit: purging first would leave a
    // crashed rebuild's still-live old index with its tombstones
    // resurrected / its appends lost. Rebuilds are offline by contract,
    // so the purge-last window is writer-only.
    fs.delete(new org.apache.hadoop.fs.Path(deletesPath(path)), true)
    fs.delete(new org.apache.hadoop.fs.Path(root, "delta"), true)
  }

  /** Append a batch's set rows (disjoint doc contract) as ONE DELTA
    * SEGMENT, published atomically by rename. The previous sharded
    * append paid ~one file commit per touched shard per layout — the
    * r16 scale harness measured 165s for a 151-doc insert against a
    * 6400-shard base (a 500-doc batch carries ~30k distinct grams, so
    * the postings/dfs layers touch nearly every shard): the
    * O(nShards) commit floor of LSM write amplification. A segment is
    * three single-file layers instead; probes union the (bounded)
    * delta under the same batch-bounded filters, and [[compact]] folds
    * segments into the sharded base — O(touched shards) ONCE per
    * compact cadence, not once per append. Atomic publish also
    * strengthens the isolation contract for appends: a probe sees
    * either no segment or all three layers (the profiles-first
    * ordering below is kept for uniformity; it matters only to the
    * base layout's in-place writes). Segments are ingest-grain by the
    * append contract — each layer is one narrow exchange to a
    * single-task file write; corpus-scale loads belong to [[write]]. */
  def append(sets: DataFrame, path: String): Unit = {
    val spark = sets.sparkSession
    val nShards = storedShards(spark, path).getOrElse(
      throw new IllegalStateException(s"no gram index at $path — write() first"))
    val _ = nShards // layout validated; delta layers are unsharded
    val (fs, root) = fsOf(spark, path)
    val segId = java.lang.Long.toHexString(System.nanoTime()) +
      s"_p${ProcessHandle.current().pid()}"
    val tmp = new org.apache.hadoop.fs.Path(root, s"delta/.tmp_$segId")
    val profiles = sets.groupBy("doc_id")
      .agg(collect_list(col("x")).as("sh"), count(lit(1)).as("n"))
    profiles.repartition(1)
      .write.mode("overwrite").parquet(s"$tmp/profiles")
    sets.join(profiles.select(col("doc_id"), col("n")), "doc_id")
      .select("x", "doc_id", "n")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$tmp/postings")
    sets.groupBy("x").agg(count(lit(1)).as("df"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$tmp/dfs")
    val seg = new org.apache.hadoop.fs.Path(root, s"delta/seg_$segId")
    require(fs.rename(tmp, seg), s"gram append: publishing $seg failed")
  }

  private def writeLayouts(sets: DataFrame, path: String, nShards: Int,
                           mode: String): Unit = {
    val profiles = sets.groupBy("doc_id")
      .agg(collect_list(col("x")).as("sh"), count(lit(1)).as("n"))
    // profiles FIRST — see the isolation contract in the scaladoc
    profiles
      .withColumn("shard", shardOf(col("doc_id"), nShards))
      .repartition(col("shard"))
      .sortWithinPartitions("doc_id")
      .write.mode(mode).partitionBy("shard").parquet(s"$path/profiles")
    sets
      .join(profiles.select(col("doc_id"), col("n")), "doc_id")
      .select(col("x"), col("doc_id"), col("n"))
      .withColumn("shard", shardOf(col("x"), nShards))
      .repartition(col("shard"))
      .sortWithinPartitions("x", "doc_id")
      .write.mode(mode).partitionBy("shard").parquet(s"$path/postings")
    sets.groupBy("x").agg(count(lit(1)).as("df"))
      .withColumn("shard", shardOf(col("x"), nShards))
      .repartition(col("shard"))
      .sortWithinPartitions("x")
      .write.mode(mode).partitionBy("shard").parquet(s"$path/dfs")
  }

  // ---- deletes (the BandIndex/VectorIndex tombstone shape) -----------

  private def deletesPath(path: String) = s"$path/_deletes"

  /** Tombstone corpus doc ids: excluded from every probe's candidates
    * immediately, physically removed at [[compact]]. dfs are NOT
    * corrected until compact — inflated df only re-orders the prefix
    * choice (sound, see scaladoc). */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    require(storedShards(spark, path).nonEmpty, s"no gram index at $path")
    import spark.implicits._
    ids.toDF("doc_id").write.mode("append").parquet(deletesPath(path))
  }

  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val (fs, _) = fsOf(spark, deletesPath(path))
    if (!fs.exists(new org.apache.hadoop.fs.Path(deletesPath(path)))) None
    else Some(spark.read.parquet(deletesPath(path)).select("doc_id").distinct())
  }

  private def live(df: DataFrame, spark: SparkSession, path: String,
                   idCol: String): DataFrame =
    tombstones(spark, path) match {
      case Some(t) =>
        df.join(broadcast(t.select(col("doc_id").as(idCol))), Seq(idCol), "left_anti")
      case None => df
    }

  /** Upper bound on prefix rows a probe may collect to the driver (see
    * [[probeContainment]]). The collected prefix is (na − ⌈τ·na⌉ + 1)
    * rows per batch doc — bounded by construction for ingest-sized
    * batches, but a caller probing a huge backfill batch would
    * otherwise grow driver memory with the batch. Past the bound the
    * probe switches to the distributed plan: the prefix is
    * localCheckpoint()ed on the executors (same lineage cut, no driver
    * copy), shard lists come off ≤nShards-row DISTINCT collects, and
    * the verify-side joins run as shuffles instead of broadcasts.
    * Output is identical either way (GramIndexSpec pins it). */
  val MaxPrefixCollectKey = "spark.graft.gram.maxPrefixCollect"
  val DefaultMaxPrefixCollect = 1000000L

  /** Containment probe: for each batch doc A (distinct (doc_id, x) set
    * rows), every live corpus doc B with |A∩B|/|A| ≥ num/den, with the
    * exact containment value. Three shard-pruned reads, each
    * batch-sized, never corpus-sized:
    *  1. dfs of the batch's tokens (≤ |batch tokens| shards listed) —
    *     picks A's na − ⌈τ·na⌉ + 1 RAREST tokens as its probe prefix;
    *  2. postings of the prefix tokens only (rare by construction, so
    *     Σ df(prefix) stays bounded) → candidates, size-filtered
    *     den·nb ≥ num·na before any profile read;
    *  3. profiles row-selectively joined on the candidate ids → ONE
    *     codegen'd array_intersect verify per pair, pure-integer
    *     threshold den·|A∩B| ≥ num·na.
    * Output: (a, b, containment), exact.
    *
    * BATCH-SIZE REGIMES. For ingest-sized batches the prefix collects
    * to the driver (one round-trip ends the dfs subtree's lineage and
    * yields the postings shard list for free) and the batch-sized
    * frames BROADCAST into every downstream join. A backfill-sized
    * batch (prefix rows > [[MaxPrefixCollectKey]], default 1M) must do
    * neither — the probe then localCheckpoint()s the prefix and the
    * candidate set on the executors (the same lineage cut without the
    * driver copy; the only collects left are the ≤nShards-row shard
    * lists, batch-size-independent) and joins by shuffle. The regime is
    * decided UP FRONT and cheapest-test-first: a shuffle-free count()
    * of the raw set rows (prefix rows can never exceed them) settles
    * every ingest-sized batch; only a count past the cap pays the
    * exact per-doc prefix bound (the rank filter keeps exactly
    * na − ⌈τ·na⌉ + 1 of each doc's na rows — one tiny groupBy agg). */
  def probeContainment(spark: SparkSession, path: String, batchSets: DataFrame,
                       num: Int = 3, den: Int = 4,
                       stageTimer: (String, Double) => Unit = (_, _) => ()): DataFrame = {
    // construction-coherence guard (ConcurrentFoldSpec): the manifest
    // reads and the delta listing below must come from the same side of
    // a racing fold's publish, or folded rows double-count/vanish
    val (fsC, rootC) = fsOf(spark, path)
    DeltaSegments.coherentSnapshot(fsC,
      new org.apache.hadoop.fs.Path(rootC, "delta"),
      new org.apache.hadoop.fs.Path(rootC, FoldingMarker),
      Layers.map(l => new org.apache.hadoop.fs.Path(rootC,
        s"$l/${FileManifest.ManifestFile}")),
      "gram probe") {
      probeContainmentImpl(spark, path, batchSets, num, den, stageTimer)
    }
  }

  private def probeContainmentImpl(spark: SparkSession, path: String,
                       batchSets: DataFrame, num: Int, den: Int,
                       stageTimer: (String, Double) => Unit): DataFrame = {
    // stageTimer: attribution seam for the scale harness — the probe's
    // first two stages (dfs read + prefix choice; postings read +
    // candidate cut) execute EAGERLY here (driver collect in the
    // ingest regime, localCheckpoint past the cap), so only an
    // internal hook can attribute their wall time; the remainder of
    // the caller's action is then the verify join. Reported per stage
    // in SCALING.md's gram_joint rows so a regression on either axis
    // is attributable to its stage.
    require(num > 0 && den > 0 && num <= den, s"threshold $num/$den not in (0,1]")
    val tStart = System.nanoTime()
    val nShards = storedShards(spark, path).getOrElse(
      throw new IllegalStateException(s"no gram index at $path — write() first"))
    val sets = batchSets.select(col("doc_id").as("a"), col("x"))
    val maxCollect = spark.conf.getOption(MaxPrefixCollectKey)
      .map { v =>
        require(v.matches("[0-9]+"),
          s"$MaxPrefixCollectKey must be a positive integer, got '$v'")
        v.toLong
      }.getOrElse(DefaultMaxPrefixCollect)
    // regime decision, cheapest test first: prefix rows ≤ set rows (the
    // rank filter keeps a subset of each doc's rows), and count() is a
    // shuffle-free partial-count job — so an ingest-sized batch (every
    // streaming micro-batch) decides "small" without the groupBy
    // exchange. Only a raw count past the cap pays the exact per-doc
    // bound (one tiny agg), which can still come in under it (the
    // prefix keeps ~na·(1−num/den) of each doc's na rows).
    val small = sets.count() <= maxCollect || {
      val prefixBound = sets.groupBy("a").agg(count(lit(1)).as("na"))
        .agg(coalesce(sum(
          expr(s"na - (($num * na + ${den - 1}) div $den) + 1")), lit(0L)))
        .head().getLong(0)
      prefixBound <= maxCollect
    }
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val withNa = sets.withColumn("na", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("a")).cast("bigint"))
    // unfolded delta segments (appends since the last compact): each
    // layer unions under the SAME batch-bounded filters as its base
    // read — one bounded delta scan per layer, never a corpus read
    val deltaDfs = deltaLayer(spark, path, "dfs")
    val deltaPostings = deltaLayer(spark, path, "postings")
    val deltaProfiles = deltaLayer(spark, path, "profiles")
    // 1. df lookup — shard list is ≤ nShards by construction (pmod);
    // all three reads below are manifest-backed (readLayer): listing-
    // free path construction at any corpus size
    val tokShards = sets.select(shardOf(col("x"), nShards).as("s"))
      .distinct().collect().map(_.getInt(0).toLong).toSeq
    // empty batch (a no-doc micro-batch): nothing can be contained —
    // return the empty frame instead of letting every readPartitions
    // below fall back to its full-listing slowPath on an empty shard
    // list (three O(corpus-shard-dirs) listings for zero output)
    if (tokShards.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "a BIGINT, b BIGINT, containment DOUBLE"))
    val dfBase = readLayer(spark, path, "dfs", tokShards).select("x", "df")
    val dfOfTok = deltaDfs.map(d => dfBase.unionByName(d.select("x", "df")))
      .getOrElse(dfBase)
      .join(bc(sets.select("x").distinct()), "x")
      .groupBy("x").agg(sum(col("df")).as("df")) // fold per-batch partials
    // lazy, the dfs subtree would re-execute under the candidate-shard
    // collect AND the returned plan (three dfs reads per probe) — cut
    // its lineage once: a driver round-trip when the prefix is
    // ingest-sized, an executor-side localCheckpoint when it is not
    val prefixPlan = withNa
      .join(bc(dfOfTok), Seq("x"), "left")
      .na.fill(0L, Seq("df")) // token unseen by the corpus: rarest of all
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("a")
          .orderBy(col("df"), col("x"))).cast("bigint"))
      .filter(col("rn") <=
        expr(s"na - (($num * na + ${den - 1}) div $den) + 1"))
      .select(col("a"), col("x"), col("na"),
        shardOf(col("x"), nShards).as("xs"), col("df"))
    // candBound: Σ df over the prefix rows = EXACT pre-distinct row count
    // of the candidate join below (one postings row per (x, doc) by index
    // construction, delta layers folded into df the same way) — free off
    // the rows the small regime collects anyway, and the guard the
    // candidate collect-once needs: `small` bounds PREFIX rows, not
    // candidates, and a boilerplate-heavy batch can hit a common token
    // whose postings are the corpus.
    val (prefix, postShards, candBound) =
      if (small) {
        val rows = prefixPlan.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
            r.getLong(4)))
        import spark.implicits._
        (rows.toSeq.toDF("a", "x", "na", "xs", "df").select("a", "x", "na"),
          rows.map(_._4.toLong).distinct.toSeq,
          rows.iterator.map(_._5).sum)
      } else {
        val cp = prefixPlan.localCheckpoint() // eager: one job, lineage cut
        (cp.select("a", "x", "na"),
          cp.select("xs").distinct().collect().map(_.getInt(0).toLong).toSeq,
          Long.MaxValue)
      }
    stageTimer("dfs_prefix", (System.nanoTime() - tStart) / 1e9)
    val tCand = System.nanoTime()
    // 2. candidates off the prefix tokens' postings, size-filtered
    val postBase = readLayer(spark, path, "postings", postShards)
      .select(col("x"), col("doc_id").as("b"), col("n").as("nb"))
    val candPlan = live(
        deltaPostings.map(d => postBase.unionByName(
          d.select(col("x"), col("doc_id").as("b"), col("n").as("nb"))))
          .getOrElse(postBase),
        spark, path, "b")
      .join(bc(prefix), "x")
      .filter(lit(den.toLong) * col("nb") >= lit(num.toLong) * col("na"))
      .select("a", "b", "na", "nb").distinct()
    // 3. verify against the candidate docs' profiles. TWO corpus-sized
    // costs hide in the naive spellings, both measured by the r14 scale
    // harness (probe grew 2.4→4.5→15.9s with the corpus):
    //  - a plain join shuffles ALL profiles (sort-merge over arrays) —
    //    killed by joining against only the candidate rows (broadcast
    //    for an ingest batch, shuffle past the cap — either way the
    //    profiles side reads only candidate shards);
    //  - a whole-root profiles read LISTS all O(corpus) shard dirs
    //    before any pruning (dynamic partition pruning skips data, not
    //    listing) — killed by deriving the candidate docs' shards from
    //    the cand subtree and constructing only those profile dirs.
    // ingest regime: collect the candidate set ONCE (it already fit a
    // broadcast — the old spelling executed the subtree under the shard
    // collect AND again under the returned plan's broadcast build, one
    // postings read + distinct exchange per execution; r20 same-box A/B
    // over the four probe consumers: 33.3s vs 37.2s lazy, q_refresh_e2e
    // 16.9 vs 21.5). The shard list becomes driver arithmetic off the
    // same rows (the 5th projected column keeps the Column-side shardOf
    // as the single hash definition). The collect is BOUNDED by
    // candBound ≤ maxCollect — `small` alone bounds prefix rows, not
    // candidates — and past either cap the localCheckpoint spelling is
    // unchanged.
    val candSmall = small && candBound <= maxCollect
    val (cand, candShards) =
      if (candSmall) {
        val rows = candPlan
          .withColumn("bs", shardOf(col("b"), nShards))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getInt(4)))
        import spark.implicits._
        (rows.toSeq.toDF("a", "b", "na", "nb", "bs")
          .select("a", "b", "na", "nb"),
          rows.map(_._5.toLong).distinct.toSeq)
      } else {
        val cp = candPlan.localCheckpoint()
        (cp, cp.select(shardOf(col("b"), nShards).as("s"))
          .distinct().collect().map(_.getInt(0).toLong).toSeq)
      }
    stageTimer("cand_postings", (System.nanoTime() - tCand) / 1e9)
    val profBase = readLayer(spark, path, "profiles", candShards)
      .select(col("doc_id").as("b"), col("sh").as("shb"))
    val profs = deltaProfiles.map(d => profBase.unionByName(
        d.select(col("doc_id").as("b"), col("sh").as("shb"))))
      .getOrElse(profBase)
    val batchFull = sets.groupBy("a").agg(collect_list(col("x")).as("sha"))
    profs
      // the candidate side broadcasts only under the same bound as its
      // collect: past it, `cand` is a local checkpoint of up to
      // candBound rows and must not be shipped to every executor
      .join(if (candSmall) broadcast(cand) else cand, "b")
      .join(bc(batchFull), "a")
      .withColumn("inter",
        size(array_intersect(col("sha"), col("shb"))).cast("bigint"))
      .filter(lit(den.toLong) * col("inter") >= lit(num.toLong) * col("na"))
      .withColumn("containment",
        col("inter").cast("double") / col("na").cast("double"))
      .select("a", "b", "containment")
  }

  /** Compact = a PROBE-ATOMIC delta fold plus, when warranted, the
    * major tombstone-fold/coalescing rewrite.
    *
    * THE FOLD ([[DeltaSegments]] — the r17 pause-probes caveat is
    * gone): strictly ADDITIVE. Segment rows append as NEW files into
    * the sharded base (no existing file moves), the file manifests are
    * atomically rewritten, and the folded segments are MARKED — not
    * deleted — in the delta's `_folded` list; physical reclamation is
    * deferred to the start of the NEXT maintenance op. A probe
    * constructed before the fold therefore reads exactly the old state
    * (its pinned manifest file set and segment paths are all still
    * present); a probe constructed after reads exactly the new one;
    * one constructed during is refused by [[FoldingMarker]] — never a
    * silent double count. dfs segments fold as per-batch PARTIAL rows
    * (the summary probes already sum per token); the exact recompute
    * happens in the major half.
    *
    * THE MAJOR HALF runs only when tombstones are pending (their fold
    * is this method's correctness contract) or some shard's file count
    * exceeds `maxFilesPerShard` (manifest-counted — no per-dir
    * listing): SaltedStore.compact's per-shard swap on postings and
    * profiles, then dfs recomputed EXACTLY from the compacted
    * postings. It MOVES base files, so a probe constructed before it
    * and executed after dies LOUDLY (FileNotFound on its pinned
    * paths) — callers holding the probe CONSTRUCTION recover through
    * [[ProbeRetry.retryOnce]] (one reconstruction against the
    * rewritten manifest, then fail loudly); the appends-only pause
    * rule applies to it, as to every SaltedStore.compact. A probe racing the dfs rewrite can read a
    * partial summary — df = 0 for missing tokens — which only
    * re-orders its prefix choice (sound). */
  def compact(spark: SparkSession, path: String,
              maxFilesPerShard: Int = 4): Unit = {
    val nShards = readMeta(spark, path).getOrElse(
      throw new IllegalStateException(s"no gram index at $path"))
    val (fsF, rootF) = fsOf(spark, path)
    val deltaDir = new org.apache.hadoop.fs.Path(rootF, "delta")
    val foldMarker = new org.apache.hadoop.fs.Path(rootF, FoldingMarker)
    if (fsF.exists(foldMarker)) {
      // a previous fold crashed mid-append: segment rows may now exist
      // in BOTH the sharded base and unfolded segments. Recover through
      // the staged full rewrite (reshard at the unchanged count): it
      // unions base ∪ live delta, DISTINCTs the set rows, folds
      // tombstones, recomputes dfs exactly, and parks the whole old
      // generation (folded-segment debris included) before the swap.
      reshard(spark, path, nShards)
      fsF.delete(foldMarker, false)
      return
    }
    // deferred reclamation of segments folded by the PREVIOUS compact —
    // any probe constructed before that fold has had a full maintenance
    // cycle to finish (the DeltaSegments grace contract)
    DeltaSegments.reclaimFolded(fsF, deltaDir)
    val liveSegNames = DeltaSegments.liveSegs(fsF, deltaDir).map(_.getName)
    if (liveSegNames.nonEmpty) {
      fsF.create(foldMarker, true).close()
      // additive appends, profiles first (the write-order isolation
      // contract), one new file per touched shard per layer
      deltaLayer(spark, path, "profiles").foreach(
        _.withColumn("shard", shardOf(col("doc_id"), nShards))
          .repartition(col("shard")).sortWithinPartitions("doc_id")
          .write.mode("append").partitionBy("shard").parquet(s"$path/profiles"))
      deltaLayer(spark, path, "postings").foreach(
        _.withColumn("shard", shardOf(col("x"), nShards))
          .repartition(col("shard")).sortWithinPartitions("x", "doc_id")
          .write.mode("append").partitionBy("shard").parquet(s"$path/postings"))
      deltaLayer(spark, path, "dfs").foreach(
        _.withColumn("shard", shardOf(col("x"), nShards))
          .repartition(col("shard")).sortWithinPartitions("x")
          .write.mode("append").partitionBy("shard").parquet(s"$path/dfs"))
      // atomic per-layer manifest swaps: a reader sees the pre-fold file
      // set or the post-fold one, never a mix of generations
      writeManifests(spark, path)
      DeltaSegments.markFolded(fsF, deltaDir, liveSegNames)
      fsF.delete(foldMarker, false)
    }
    val drop = tombstones(spark, path)
    val needMajor = drop.isDefined ||
      Layers.exists(l => FileManifest.maxFilesPerPartition(spark, s"$path/$l")
        .getOrElse(Int.MaxValue) > maxFilesPerShard)
    if (needMajor) {
      // manifests die first: the per-shard swaps below mutate the file
      // sets; probes fall back to the listing read until the rewrite rests
      dropManifests(spark, path)
      def strip(df: DataFrame): DataFrame = drop match {
        case Some(t) => df.join(broadcast(t), Seq("doc_id"), "left_anti")
        case None => df
      }
      SaltedStore.compact(spark, s"$path/postings", col("x"),
        partitionPrefix = "shard", transform = strip)
      SaltedStore.compact(spark, s"$path/profiles", col("doc_id"),
        partitionPrefix = "shard", transform = strip)
      spark.read.parquet(s"$path/postings")
        .groupBy("x").agg(count(lit(1)).as("df"))
        .withColumn("shard", shardOf(col("x"), nShards))
        .repartition(col("shard"))
        .sortWithinPartitions("x")
        .write.mode("overwrite").partitionBy("shard").parquet(s"$path/dfs")
      fsF.delete(new org.apache.hadoop.fs.Path(deletesPath(path)), true)
      writeManifests(spark, path) // at rest again: listing-free probes resume
    }
  }

  /** Marker for an in-flight shard-count migration (see [[reshard]]). */
  val ReshardMarker = "_graft_resharding"

  /** SHARD-COUNT MIGRATION on the shared StagedSwap protocol — all three
    * layouts move as one generation (postings/dfs re-hashed on x,
    * profiles on doc_id) plus a fresh meta; pending tombstones fold in.
    * OFFLINE: pause writers and probes; [[storedShards]] (every probe's
    * first call) refuses a standing marker. Resume = re-invoke with the
    * same count. */
  def reshard(spark: SparkSession, path: String, newShards: Int): Unit = {
    require(newShards > 0, s"shard count must be positive, got $newShards")
    val (fs0, root0) = fsOf(spark, path)
    if (!fs0.exists(new org.apache.hadoop.fs.Path(root0, ReshardMarker)))
      // readMeta, not storedShards: reshard is also compact's recovery
      // path for a crashed delta fold, which runs under FoldingMarker
      require(readMeta(spark, path).nonEmpty, s"no gram index at $path")
    StagedSwap.migrate(spark, path, ReshardMarker,
      ".reshard_new", ".reshard_old",
      opName = "reshard", what = "shard count", tag = s"shards=$newShards",
      parkFilter = _ => true, swapFilter = _ => true,
      stage = { staging =>
        // base ∪ unfolded delta, DISTINCT: a crashed fold may have the
        // same segment rows on both sides — the rewrite dedups them
        val baseSets = spark.read.parquet(s"$path/postings")
          .select("doc_id", "x")
        val allSets = deltaLayer(spark, path, "postings")
          .map(d => baseSets.unionByName(d.select("doc_id", "x")))
          .getOrElse(baseSets).distinct()
        val liveSets = live(allSets, spark, path, "doc_id")
        // one staged rewrite through the same three-layout writer; meta
        // + file manifests commit into the staging dir, swapped in with
        // the data (the parked old generation — delta included — is
        // dropped after)
        writeLayouts(liveSets, staging, newShards, "overwrite")
        writeMeta(spark, staging, newShards)
        writeManifests(spark, staging)
      })
  }
}
