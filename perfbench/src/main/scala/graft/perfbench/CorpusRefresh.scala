package graft.perfbench

import _root_.perfbench.{Corpus, OpResult, Tracer, Workload}
import graft.pipeline.Dedup
import graft.queries.PipelineQueries
import graft.store.{BandIndex, GramIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** corpus_refresh: one increment per operation, run through the program's
  * own refresh chain the way `graft.Scaling`'s refresh families run it:
  * `PipelineQueries.refreshScreens` (update split, history-bloom exact
  * screen, gram-index containment screen, band-index fuzzy screen with an
  * exact Jaccard verify, all against the live corpus sidecar), then
  * `Dedup.connectedComponents` over every confirmed pair, the index
  * appends, the sidecar and history-bloom maintenance, and compaction by
  * the indexes' own policy. Lives in a `graft` package because the refresh
  * composition is `private[graft]`.
  *
  * Sizes follow the repository: the corpus is the `documents` table at
  * sf0.01 and the corpus of Scaling's refresh_corpus family at tier 1
  * (5,000 documents, 64 index shards), the text follows Scaling's
  * generator (40 to 80 words over a vocabulary of max(2000, 4·n^0.75)
  * with a quadratic skew), and an increment holds the four planted
  * classes of Scaling's refresh families in equal shares plus a
  * tombstone feed of one key in ten, as q_refresh_e2e's. */
final class CorpusRefresh(seed: Long, work: String) extends Workload(seed, work) {
  val CorpusDocs = 5000
  val PerClass = 50
  val Tombstones = 20
  val IndexShards = 16
  private val gramPath = s"$work/gram"
  private val bandPath = s"$work/band"
  private val bloomPath = s"$work/history_bloom"
  private var corpus: Corpus = _
  private val live = mutable.LinkedHashMap.empty[Long, String]
  private var hist: DataFrame = _
  private var bloomGen = 0L
  private var nextId = 0L

  val warmupOps = 0
  val opGroup = 1

  def sizes: Map[String, Any] = Map(
    "corpus_docs" -> CorpusDocs, "words_per_doc" -> "40-80", "vocabulary" -> Corpus.vocabulary(CorpusDocs),
    "index_shards" -> IndexShards, "warmup_ops" -> warmupOps, "op_group" -> opGroup,
    "increment" -> Map("copies" -> PerClass, "truncations" -> PerClass, "extensions" -> PerClass,
      "novel" -> PerClass, "tombstones" -> Tombstones),
    "compaction" -> "GramIndex/BandIndex.needsCompaction defaults (maxSegments 8), compact defaults",
    "containment" -> "3/4", "jaccard" -> 0.5)

  def setup(s: SparkSession, tr: Tracer): Unit = {
    spark = s
    corpus = new Corpus(seed, Corpus.vocabulary(CorpusDocs))
    live.clear()
    (0 until CorpusDocs).foreach(i => live(i.toLong) = corpus.doc())
    nextId = CorpusDocs.toLong
    val docs = Corpus.docsFrame(s, live.toSeq)
    tr.span("store.gram_write")(GramIndex.write(Corpus.sets(docs), gramPath, IndexShards))
    tr.span("store.band_write")(BandIndex.write(Dedup.docSketch(docs.select("doc_id", "text")), bandPath, IndexShards))
    // the maintained corpus sidecar and its persisted history bloom,
    // bound to this corpus generation as Scaling's refresh families bind it
    tr.span("pipeline.hist_update") {
      hist = PipelineQueries.refreshHistKeyed(docs).localCheckpoint()
      val g = hist.agg(count(lit(1)), expr("bit_xor(xxhash64(h))")).head()
      bloomGen = g.getLong(0) ^ g.getLong(1)
      Dedup.ensureHistoryBloom(s, bloomPath, hist.select("h"), col("h"), CorpusDocs.toLong, Some(bloomGen))
    }
  }

  private def pick(n: Int, avoid: Set[Long]): Seq[Long] = {
    val ids = live.keys.toIndexedSeq
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      val id = ids(rng.nextInt(ids.size))
      if (!avoid(id)) out += id
    }
    out.toSeq
  }

  def op(i: Int, tr: Tracer): OpResult = {
    // plant the increment: the refresh families' four classes, fresh ids
    val tomb = pick(Tombstones, Set.empty)
    val src = pick(3 * PerClass, tomb.toSet)
    def fresh(): Long = { nextId += 1; nextId }
    val copies = src.take(PerClass).map(s => fresh() -> live(s))
    val truncs = src.slice(PerClass, 2 * PerClass).map(s => fresh() -> Corpus.tokens(live(s)).dropRight(2).mkString(" "))
    val exts = src.drop(2 * PerClass).map { s =>
      val id = fresh()
      id -> (live(s) + " " + corpus.junk(id, (Corpus.tokens(live(s)).length - 2) / 3 + 1))
    }
    val novel = Seq.fill(PerClass)(fresh() -> corpus.doc())
    val incDocs = copies ++ truncs ++ exts ++ novel
    val crawl = Corpus.docsFrame(spark, incDocs)
    val delKeys = {
      val s = spark
      import s.implicits._
      tomb.toDF("doc_id")
    }

    val v = tr.span("pipeline.refresh_screens", Some(CorpusRefresh.ScreenStages)) {
      PipelineQueries.refreshScreens(spark, hist, crawl, delKeys, gramPath, bandPath, work,
        ensureStores = ids => {
          tr.span("store.gram_delete")(GramIndex.delete(spark, gramPath, ids))
          tr.span("store.band_delete")(BandIndex.delete(spark, bandPath, ids))
        },
        bloomGuess = CorpusDocs.toLong, bloomPath = Some(bloomPath), bloomGeneration = Some(bloomGen))
    }
    def pairs(df: DataFrame) = df.select("doc_id", "match_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = pairs(v.exactDrop)
    val contained = pairs(v.contDrop)
    val fuzzy = pairs(v.fuzzyDrop)
    val insertedIds = v.inserted.select("doc_id").collect().map(_.getLong(0)).toSet
    val updates = v.updKeys.count()
    tr.count("contained", contained.size.toDouble)
    tr.count("near_dup", fuzzy.size.toDouble)

    // duplicate clusters over every confirmed pair
    val edges = Seq(v.exactDrop, v.contDrop, v.fuzzyDrop)
      .map(_.select(col("doc_id").as("a"), col("match_id").as("b"))).reduce(_ union _)
    val labels: Map[Long, Long] =
      if (exact.isEmpty && contained.isEmpty && fuzzy.isEmpty) Map.empty
      else tr.span("pipeline.connected_components") {
        Dedup.connectedComponents(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }

    // apply: survivors into both indexes, the sidecar and the history
    // bloom; tombstones already left the indexes in ensureStores
    if (insertedIds.nonEmpty) {
      val sk = tr.span("pipeline.doc_sketch")(Dedup.docSketch(v.inserted.select("doc_id", "text")).localCheckpoint())
      tr.span("store.gram_append")(GramIndex.append(Corpus.sets(v.inserted), gramPath))
      tr.span("store.band_append")(BandIndex.append(sk, bandPath))
      sk.unpersist()
    }
    tr.span("pipeline.hist_update") {
      val old = hist
      hist = hist.join(broadcast(delKeys), Seq("doc_id"), "left_anti")
        .unionByName(PipelineQueries.refreshHistKeyed(v.inserted))
        .localCheckpoint()
      old.unpersist()
      Dedup.appendHistoryBloom(spark, bloomPath, v.inserted.select(md5(col("text"))).collect().map(_.getString(0)).toSeq)
    }
    if (GramIndex.needsCompaction(spark, gramPath))
      tr.span("store.index_compact")(GramIndex.compact(spark, gramPath))
    if (BandIndex.needsCompaction(spark, bandPath))
      tr.span("store.index_compact")(BandIndex.compact(spark, bandPath))
    PipelineQueries.releaseCaches()

    val fails = check(incDocs, tomb.toSet, copies.map(_._1), truncs.map(_._1), novel.map(_._1).toSet, updates,
      exact, contained, fuzzy, insertedIds, labels)
    tomb.foreach(live.remove)
    incDocs.filter(d => insertedIds(d._1)).foreach { case (id, t) => live(id) = t }
    OpResult("refresh", incDocs.size, fails)
  }

  /** Checks the verdicts against the planted classes and the live model. */
  private def check(incDocs: Seq[(Long, String)], tomb: Set[Long], copies: Seq[Long], truncs: Seq[Long], novel: Set[Long],
                    updates: Long, exact: Map[Long, Long], contained: Map[Long, Long], fuzzy: Map[Long, Long],
                    inserted: Set[Long], labels: Map[Long, Long]): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val text = incDocs.toMap
    if (updates != 0) fails += s"$updates fresh ids were split as updates"
    // every increment document has exactly one verdict
    val verdicts = Seq(exact.keySet, contained.keySet, fuzzy.keySet, inserted)
    if (verdicts.map(_.size).sum != text.size || verdicts.reduce(_ ++ _) != text.keySet)
      fails += s"verdicts cover ${verdicts.map(_.size).mkString("+")} ids, expected ${text.size} distinct"
    // screen targets: the live corpus less this increment's tombstones
    val target = live.filter(d => !tomb(d._1))
    val firstWithText = target.toSeq.groupBy(_._2).map { case (t, xs) => t -> xs.map(_._1).min }
    copies.foreach { id =>
      if (!exact.get(id).exists(m => firstWithText.get(text(id)).contains(m)))
        fails += s"exact copy $id matched ${exact.get(id)}, expected ${firstWithText.get(text(id))}"
    }
    truncs.foreach(id => if (!exact.contains(id) && !contained.contains(id)) fails += s"truncation $id was not flagged")
    contained.foreach { case (a, b) =>
      val (sa, sb) = (Corpus.shingleSet(text(a)), target.get(b).map(Corpus.shingleSet).getOrElse(Set.empty))
      if (sa.isEmpty || 4 * (sa intersect sb).size < 3 * sa.size) fails += s"containment pair ($a, $b) is below 3/4"
    }
    fuzzy.foreach { case (a, b) =>
      val j = target.get(b).map(t => Corpus.jaccard(Corpus.shingleSet(text(a)), Corpus.shingleSet(t))).getOrElse(0.0)
      if (j < 0.5) fails += s"near-duplicate pair ($a, $b) has Jaccard $j"
    }
    val flagged = exact.keySet ++ contained.keySet ++ fuzzy.keySet
    (flagged intersect novel).foreach(id => fails += s"novel doc $id was flagged")
    // union-find over the same pairs: every label is its component's minimum
    val edges = (exact ++ contained ++ fuzzy).toSeq
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (x, y) => val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    if (labels.size != nodes.size) fails += s"connected components labelled ${labels.size} nodes, expected ${nodes.size}"
    nodes.foreach(n => if (!labels.get(n).contains(find(n))) fails += s"node $n labelled ${labels.get(n)}, expected ${find(n)}")
    fails.take(5).toSeq
  }

  def storeBytes: Long = Workload.diskBytes(gramPath) + Workload.diskBytes(bandPath)
  def userBytes: Long = live.valuesIterator.map(_.length.toLong).sum
}

object CorpusRefresh {
  /** The stages of `refreshScreens`, told apart by the job descriptions
    * its `labeled` blocks set. The fuzzy screen's block holds the
    * survivors' sketch, the band probe, its candidate collect and the
    * exact Jaccard verify, most of them as jobs adaptive execution starts
    * on its own threads, so it is one stage. */
  val ScreenStages: PartialFunction[String, String] = {
    case "refresh: update split" | "refresh: superseded set" | "refresh: ensureStores" => "pipeline.update_split"
    case "refresh: history bloom" | "refresh: exact screen" => "pipeline.exact_screen"
    case "refresh: containment screen" => "store.gram_probe"
    case "refresh: fuzzy screen" => "pipeline.fuzzy_screen"
    case "refresh: inserted set" => "pipeline.inserted_set"
  }
}
