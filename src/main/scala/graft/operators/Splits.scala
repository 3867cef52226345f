package graft.operators

import graft.functions.HashFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic train/val/test split assignment and the split-hygiene
  * checks a training pipeline runs before an export is allowed to train.
  *
  * The assignment is a pure function of the document id (content-hash
  * bucketing, same contract as [[Sampling]]): a document's split never
  * depends on partitioning, cluster size, or arrival order, so the split
  * audited at sf0.01 is bit-identical to the split a 1000-executor run
  * produces at 100 TB. The reference's engine has no notion of held-out
  * splits (it is a single wordcount job); this surface generalizes its
  * deterministic-rerun property (same input → same output regardless of
  * worker count) to the split stage of an LLM data pipeline.
  */
object Splits {

  /** Hash-bucket resolution for split rates: thousandths. */
  val SplitBuckets: Long = 1000L

  /** Seed for the split draw — distinct from every [[Sampling]] seed so
    * split membership is independent of sample membership.
    */
  val SplitSeed: Int = 23

  /** Bucket thresholds: [0, TrainMilli) → train, [TrainMilli, ValMilli) →
    * val, [ValMilli, SplitBuckets) → test. 90/5/5 — the usual shape.
    */
  val TrainMilli: Long = 900L
  val ValMilli: Long = 950L

  /** The split of one document as a column: CASE over the 60-bit md5
    * bucket. Codegen'd end to end (one md5 + two compares per row), no
    * shuffle, and interpolated verbatim into the oracle SQL so the two
    * engines cannot drift.
    */
  def splitOf(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = HashFunctions.md5Long(docId.cast("string"), SplitSeed) % SplitBuckets
    when(bucket < TrainMilli, lit("train"))
      .when(bucket < ValMilli, lit("val"))
      .otherwise(lit("test"))
  }

  /** Per-(source, split) allocation rollup: how many documents and tokens
    * each source contributed to each split — the sanity table a pipeline
    * checks before training (is val non-empty per source? did the 90/5/5
    * land?).
    *
    * Shape: one scan computing the per-row hash + token count, one
    * hash-aggregate producing |sources|×3 rows. Map-side combine does
    * almost all the work; the shuffle carries one row per (source, split)
    * per task. Scan-speed at any scale.
    */
  def splitAllocation(documents: DataFrame): DataFrame =
    documents
      .select(
        col("source"), splitOf(col("doc_id")).as("split"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_toks"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))

  /** Split leakage: near-duplicate pairs whose endpoints landed in
    * DIFFERENT splits — the train↔test contamination check. A held-out
    * split is only held out if no training document is a near-copy of an
    * eval document; random (hash) splitting guarantees the opposite at
    * crawl duplication rates, which is exactly why this check exists
    * (and why real pipelines split by near-dup CLUSTER — see the keeper
    * policies in [[Pipeline]]). Emits one row per leaking pair with both
    * splits and the pair's jaccard; `leak` marks the severe case (a
    * train document on one side of a held-out pair).
    *
    * Shape: rides the SignatureStore pair miner
    * ([[Dedup.nearDuplicatePairsFromTable]] — banded equi-join, never
    * all-pairs), then adds only per-row hash CASEs: computing each
    * side's split is a pure function of the id already present in the
    * pair row, so leakage costs ZERO extra joins or shuffles on top of
    * pair mining itself.
    */
  def splitLeakage(pairs: DataFrame): DataFrame = {
    val a = splitOf(col("doc_a"))
    val b = splitOf(col("doc_b"))
    pairs
      .select(
        col("doc_a"), col("doc_b"), col("jaccard"),
        a.as("split_a"), b.as("split_b"))
      .where(col("split_a") =!= col("split_b"))
      .withColumn(
        "train_leak",
        col("split_a") === "train" || col("split_b") === "train")
  }

  /** LEAK-FREE split assignment — decontamination by CONSTRUCTION, the
    * fix [[splitLeakage]]'s docstring points at: instead of hashing the
    * document id (which puts two near-copies in different splits at
    * crawl duplication rates), hash the near-dup CLUSTER id, so every
    * member of a connected component lands in the same split and NO
    * mined pair can ever straddle a split line ([[splitLeakage]] over
    * this assignment is empty by construction — the spec proves it on
    * the real pair set). Same 90/5/5 thresholds and seed discipline as
    * [[splitOf]]; still deterministic and partition-invariant, because
    * the cluster label (min doc_id of the component) is itself a pure
    * function of the corpus.
    *
    * One row per document: (doc_id, cluster_id, cluster_n, split).
    *
    * Shape: the [[Dedup.clustersFromPairs]] label propagation (per-round
    * |pairs|-scale shuffles, corpus touched once) plus ONE codegen'd
    * hash CASE per row — split assignment itself adds zero joins and
    * zero shuffles on top of clustering.
    */
  def leakFreeSplit(documents: DataFrame, pairs: DataFrame): DataFrame =
    Dedup.clustersFromPairs(documents, pairs)
      .select(col("doc_id"), col("cluster_id"), col("cluster_n"),
        splitOf(col("cluster_id")).as("split"))

  /** INCREMENTAL leak-free split — [[leakFreeSplit]] under continuous
    * ingestion, following the family's frozen-artifact asymmetry
    * ([[Dedup.incrementalNearDups]], `Dsir.incrementalScores`): the
    * corpus below the ingest boundary contributes a FROZEN cluster+split
    * assignment (built once, never shifted by the batch being judged),
    * and an arriving document INHERITS the split of the corpus cluster
    * it near-duplicates — the rule that keeps a near-copy of an existing
    * test document out of train whenever the probe surfaces the match.
    * Documents matching no corpus cluster open their own singleton and
    * draw the plain [[splitOf]] hash; a document matching partners in
    * several corpus clusters takes the minimum cluster id (deterministic
    * — those clusters are one component in the next full rebuild anyway).
    * Shard-internal near-dup pairs wait for the next full pass, exactly
    * like the banded probe's contract.
    *
    * LEAK-FREE IS THE BATCH FORM'S GUARANTEE, NOT THIS ONE'S: the probe
    * is the banded LSH index (probabilistic banding, capped buckets), so
    * an arrival whose only match misses every band — or whose matched
    * clusters carry different splits, where min-cluster inheritance
    * picks one — can still land in train until the next full rebuild
    * re-clusters it. SplitsSpec measures both residues on the driver
    * corpus (probe-missed leaks and multi-split matches are each a
    * bounded handful there); treat the incremental form as
    * leak-SUPPRESSING between rebuilds, with the full [[leakFreeSplit]]
    * pass as the periodic guarantee restorer.
    *
    * One row per SHARD document: (doc_id, cluster_id, split, inherited).
    *
    * Shape: the corpus assignment is the one-time artifact (cluster
    * propagation + one hash CASE); per batch the cost is the banded
    * index probe (O(shard) signatures + the capped equi-join) plus one
    * |matched-pairs| join against the slim (doc_id, cluster_id, split)
    * assignment — the corpus is never rescanned per batch.
    */
  def incrementalLeakFreeSplit(
      documents: DataFrame, tbl: DataFrame,
      threshold: Double = 0.5): DataFrame =
    Dedup.ingestSplitOf(documents) match {
      case None =>
        documents.select(col("doc_id"), col("doc_id").as("cluster_id"),
          lit("train").as("split"), lit(false).as("inherited")).limit(0)
      case Some(split) =>
        // FROZEN artifact: corpus-side clusters + split. The store's
        // group columns span the whole table, so the corpus slice
        // regroups its own rows (one window, paid once at index build);
        // the checkpointed slice then feeds BOTH the pair miner and the
        // probe index — the corpus store is scanned once, and keyed once
        // (the index builds from the keyed slice directly).
        val corpusTbl = Dedup.withContentGroups(
          tbl.where(col("doc_id") < split).drop("group_id", "members"))
          .localCheckpoint()
        val corpusAssign = leakFreeSplit(
          documents.where(col("doc_id") < split),
          Dedup.nearDuplicatePairsFromTable(corpusTbl, threshold))
          .select(col("doc_id").as("corpus_doc"),
            col("cluster_id"), col("split"))
          .localCheckpoint()
        assignArrivals(
          documents.where(col("doc_id") >= split),
          Dedup.probeStoredIndex(
            Dedup.corpusBandIndexFromKeyed(corpusTbl),
            tbl.where(col("doc_id") >= split), threshold),
          corpusAssign)
    }

  /** The arrival-assignment tail shared by [[incrementalLeakFreeSplit]]
    * and its streaming per-micro-batch twin: matched arrivals take the
    * min-(cluster, split) of their corpus partners, the rest hash-split
    * as singletons. `corpusAssign` is the frozen (corpus_doc,
    * cluster_id, split) artifact.
    */
  private[graft] def assignArrivals(
      arrivals: DataFrame, probePairs: DataFrame,
      corpusAssign: DataFrame): DataFrame = {
    val inherited = probePairs
      .select(col("corpus_doc"), col("shard_doc"))
      .join(corpusAssign, "corpus_doc")
      .groupBy(col("shard_doc").as("doc_id"))
      .agg(min(struct(col("cluster_id"), col("split"))).as("m"))
      .select(col("doc_id"), col("m.cluster_id").as("cluster_id"),
        col("m.split").as("split"), lit(true).as("inherited"))
    val fresh = arrivals.select("doc_id")
      .join(inherited.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        splitOf(col("doc_id")).as("split"), lit(false).as("inherited"))
    inherited.unionByName(fresh)
  }
}
