package graft.streaming

import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming ingest-time deduplication of DOCUMENTS by content fingerprint —
  * the ingest twin of the batch `Dedup.exactDuplicates` (q_dedup_exact): an
  * LLM-data pipeline dedups exact copies at the front door, before they cost
  * storage and downstream near-dup work.
  *
  * Topology: document stream → md5 fingerprint of whitespace-normalized
  * lowercase text (the SAME normalization as the batch operator, so batch
  * and streaming agree on what "exact copy" means) →
  * `dropDuplicatesWithinWatermark(fp_md5)` → append-mode parquet sink.
  *
  * Scale notes: dedup state is keyed by fingerprint and EVICTED once the
  * watermark passes a fingerprint's event time — state is bounded by ingest
  * rate × watermark horizon, never by corpus history (a plain
  * `dropDuplicates` would hold every fingerprint ever seen and OOM on an
  * unbounded stream). The horizon is the dedup guarantee: copies arriving
  * within it are dropped exactly-once; a copy arriving later than the
  * horizon re-admits (the standard bounded-state trade — catch late
  * stragglers with a periodic batch `exactDuplicates` sweep instead of
  * unbounded streaming state).
  */
object DocumentStreams {

  /** Raw schema of the documents parquet. */
  val rawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Synthetic ingest-time base (2020-01-01T00:00:00Z, epoch seconds). NOT
    * epoch 0: Spark initializes the event-time watermark at 0, and a first
    * row sitting exactly on the initial watermark is discarded as late.
    */
  val IngestEpochStart: Long = 1577836800L

  /** Un-watermarked streaming source over the documents parquet — the one
    * place the read options live (mirrors EventStreams' rawSource/source
    * split).
    */
  def rawSource(spark: SparkSession, dir: String): DataFrame =
    EventStreams.tableStream(spark, dir, "documents", rawSchema)

  /** [[rawSource]] watermarked on a synthetic ingest time derived from
    * doc_id (1 doc/second from [[IngestEpochStart]]) — the driver's table
    * carries no arrival timestamp, and a deterministic stand-in keeps the
    * pipeline oracle-checkable; a real deployment uses the ingest layer's
    * arrival time here, nothing else changes.
    */
  def source(spark: SparkSession, dir: String, watermark: String = "1 hour"): DataFrame =
    rawSource(spark, dir)
      .withColumn("ingest_ts",
        timestamp_micros((lit(IngestEpochStart) + col("doc_id")) * 1000000L))
      .withWatermark("ingest_ts", watermark)

  /** Exactly-once content dedup: first document with a given fingerprint
    * passes (and is emitted immediately — dedup does not hold rows back in
    * append mode), subsequent copies within the watermark horizon are
    * dropped, and the fingerprint's state row is evicted once the
    * watermark passes its event time.
    */
  def deduped(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp_md5", md5(TextAnalysis.normalized(col("text"))))
      .dropDuplicatesWithinWatermark("fp_md5")

  /** The reference's flagship query as a CONTINUOUS query: streaming word
    * count over the document stream — `WordCount.counts` shares its exact
    * tokenize/normalize/count expressions, so batch and stream agree term
    * for term (and share the mr_wordcount oracle). The complete-mode
    * drain makes it oracle-checkable from Verify (the same harness as the
    * event streams); a real deployment uses update mode into a keyed
    * store ([[wordCountsViaKeyedStore]]). The aggregation state
    * is one row per DISTINCT WORD — vocabulary-bounded, not stream-bounded
    * — which is why a global unwatermarked count is legitimate here.
    */
  def wordCountsToBatch(spark: SparkSession, dir: String): DataFrame =
    EventStreams.drainCompleteToBatch(
      graft.operators.WordCount.counts(rawSource(spark, dir), "text"))

  /** PRODUCTION shape for the streaming wordcount (the documented twin of
    * [[wordCountsToBatch]]'s complete-mode oracle harness): update output
    * mode upserting into the log-structured keyed store of
    * [[EventStreams.upsertToStore]], merged on read — the registered
    * production-shaped wordcount (same oracle as mr_wordcount: a full
    * drain's merged store equals the batch counts).
    */
  def wordCountsViaKeyedStore(spark: SparkSession, dir: String): DataFrame =
    EventStreams.upsertDrain(
      graft.operators.WordCount.counts(rawSource(spark, dir), "text"), "word")

  /** STREAMING A-ES sample maintenance — the continuously-updated exact-k
    * weighted sample. Bottom-k is a MONOID: the global bottom-k equals
    * the bottom-k of the union of per-batch bottom-ks (any globally
    * selected row is necessarily in its own batch's bottom-k), so each
    * micro-batch contributes only its OWN ≤k key rows and the bottom-k of
    * their union is the running sample. Per-batch cost is one shard scan
    * + a k-row heap; the sink grows by ≤ k rows per batch, never
    * corpus-proportional. A full drain equals the batch
    * [[graft.operators.Sampling.weightedExactSample]] exactly — shared
    * oracle verbatim.
    */
  def aesSampleToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val k = Sampling.AesTarget.toInt
    EventStreams.probeToBatch(rawSource(spark, dir))(Sampling.weightedExactSample(_, k))
      .orderBy(col("key_f").asc, col("doc_id").asc)
      .limit(k)
  }

  /** Run the dedup topology over the driver's documents dir to completion
    * (append mode + exactly-once parquet sink, like the event streams) and
    * read the result back.
    *
    * The registered query projects ONLY `fp_md5`: which physical copy
    * survives depends on arrival order (partition interleaving), but the
    * SET of surviving fingerprints is exactly the distinct fingerprints of
    * the corpus — deterministic and oracle-checkable (the batch twin's
    * GROUP BY keys).
    */
  def dedupToBatch(spark: SparkSession, dir: String): DataFrame =
    EventStreams.probeToBatch(deduped(source(spark, dir)))(identity).select("fp_md5")

  /** Ingest-time QUALITY + PII gate — the streaming twin of the retention
    * pipeline's stage 1 plus the PII scan: admit a document only if it has
    * ≥ 10 whitespace tokens, ≥ 1 stopword, and zero email/IPv4/digit-run
    * hits. Every predicate is a pure per-row projection, so the operator
    * is STATELESS (no aggregation, no watermark, no state store — the
    * cheapest streaming shape there is) and its append output is
    * batch-identical row for row, not merely set-equal. This is why
    * quality gating belongs at the ingest front door: it costs one
    * codegen'd scan per micro-batch and shrinks everything downstream.
    */
  def qualityFiltered(docs: DataFrame): DataFrame = {
    val ts = split(trim(graft.functions.TextFunctions.nfc(col("text"))), "\\s+")
    val nStop = size(filter(ts, t => t.isin(TextAnalysis.Stopwords: _*)))
    def noHit(pattern: String) =
      size(regexp_extract_all(col("text"), lit(pattern), lit(0))) === 0
    docs
      .where(size(ts) >= 10 && nStop > 0 &&
        noHit(TextAnalysis.EmailPattern) &&
        noHit(TextAnalysis.Ipv4Pattern) &&
        noHit(TextAnalysis.DigitRunPattern))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** DLQ reason of a rejected document — the FIRST failing rule in the
    * gate's check order; NULL for admitted docs, so this column IS the
    * router of [[dlqSplitToBatch]] and the gate predicate's negation.
    */
  def rejectionReason: org.apache.spark.sql.Column = {
    val ts = split(trim(graft.functions.TextFunctions.nfc(col("text"))), "\\s+")
    val nStop = size(filter(ts, t => t.isin(TextAnalysis.Stopwords: _*)))
    def hits(p: String) =
      size(regexp_extract_all(col("text"), lit(p), lit(0))) > 0
    when(size(ts) < 10, "too_short")
      .when(nStop === 0, "no_stopwords")
      .when(hits(TextAnalysis.EmailPattern), "pii_email")
      .when(hits(TextAnalysis.Ipv4Pattern), "pii_ipv4")
      .when(hits(TextAnalysis.DigitRunPattern), "pii_digit_run")
  }

  /** DEAD-LETTER-QUEUE split — the production shape of the quality gate:
    * ONE foreachBatch routes every micro-batch to TWO sinks (admitted →
    * main, rejected + reason → DLQ), each batch written to its own
    * `batch=<id>` subdirectory with overwrite so a RETRIED batch
    * idempotently replaces itself on both sinks — the two-sink
    * exactly-once recipe when a single transactional commit isn't
    * available. Stateless (per-row predicates only). Returns the DLQ
    * side read back; the admitted side is `q_stream_quality`'s frame.
    */
  def dlqSplitToBatch(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_dlq")
    val dlq = tmp.resolve("dlq")
    java.nio.file.Files.createDirectories(dlq)
    val annotated = rawSource(spark, dir).withColumn("reason", rejectionReason)
    def admitted(b: DataFrame) =
      b.where(col("reason").isNull).select("doc_id", "lang", "source")
    def rejected(b: DataFrame) =
      b.where(col("reason").isNotNull).select("doc_id", "lang", "source", "reason")
    EventStreams.runStream(annotated, "append") { (batch, id) =>
      val b = batch.persist()
      try {
        admitted(b).write.mode("overwrite").parquet(s"$tmp/main/batch=$id")
        rejected(b).write.mode("overwrite").parquet(s"$dlq/batch=$id")
      } finally b.unpersist()
    }
    val result = spark.read.schema(rejected(annotated).schema)
      .option("recursiveFileLookup", "true").parquet(dlq.toString)
    EventStreams.deleteRecursivelyOnExit(tmp)
    result
  }

  /** Run the quality gate over the driver's documents dir to completion
    * and read back the admitted rows (append + exactly-once parquet sink).
    */
  def qualityFilteredToBatch(spark: SparkSession, dir: String): DataFrame =
    EventStreams.probeToBatch(rawSource(spark, dir))(qualityFiltered)

  /** STREAMING incremental winnow overlap — `Dedup.incrementalWinnowOverlap`
    * running as continuous ingestion: the corpus's capped fingerprint
    * index, boilerplate set, and per-doc counts freeze ONCE as static
    * frames (`Dedup.winnowCorpusArtifacts`); each arriving micro-batch
    * computes its own winnow selection and probes through the SHARED
    * `Dedup.winnowProbe`, so the stream reports the batch twin's exact
    * shard-vs-corpus pair set (shared oracle).
    */
  def incrementalWinnowOverlapToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = graft.Tables.documents(spark, dir)
    Dedup.ingestSplitOf(docs) match {
      case None => Dedup.incrementalWinnowOverlap(docs)
      case Some(split) =>
        val (hot, index, nCorpus) = Dedup.winnowCorpusArtifacts(
          docs.where(col("doc_id") < split), Dedup.WinnowBucketCap)
        EventStreams.probeToBatch(rawSource(spark, dir).where(col("doc_id") >= split))(
          Dedup.winnowProbe(_, hot, index, nCorpus, Dedup.WinnowMinShared))
    }
  }

  /** STREAMING within-document repetition excision —
    * `Dedup.repetitionExcise` running as continuous ingestion. The
    * verdict is entirely DOCUMENT-LOCAL (a line repeats or not inside
    * the one document that carries it), so unlike the line-dedup and
    * novelty twins there is no frozen corpus artifact at all: each
    * micro-batch runs the SHARED batch operator on itself and the union
    * over any batch partitioning equals the batch answer row for row —
    * the whole table streams (no ingest split) and the query shares
    * `q_repetition_excised`'s oracle verbatim.
    */
  def repetitionExciseToBatch(spark: SparkSession, dir: String): DataFrame =
    EventStreams.probeToBatch(rawSource(spark, dir))(graft.operators.Dedup.repetitionExcise(_))

  /** STREAMING HTML main-content extraction —
    * `Html.extractionReport` as continuous ingestion (the position a
    * crawl pipeline actually runs extraction in: pages arrive, clean
    * text leaves). Extraction is DOCUMENT-LOCAL (one page in, one report
    * out — no corpus state at all), so like the repetition twin each
    * micro-batch runs the SHARED batch operator on itself and the union
    * over any batch partitioning equals the batch answer row for row.
    * The markup fixtures are their own final shard, unioned on exactly
    * once, so the result matches the batch report (whose corpus is
    * documents ∪ fixtures) and shares `q_html_extract`'s oracle verbatim.
    */
  def htmlExtractToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Html
    import spark.implicits._
    def report(pages: DataFrame) =
      Html.extractionReportRaw(pages.select("doc_id", "source", "text"))
    EventStreams.probeToBatch(rawSource(spark, dir))(report)
      .unionByName(report(Html.MarkupFixtures.toDF("doc_id", "source", "text")))
  }

  /** STREAMING host-link-graph ingestion — `LinkGraph.hostEdges` built
    * continuously: anchor PARSING is document-local (page in, anchor
    * rows out — the shared `linksRaw`), so each micro-batch extracts its
    * own links; the cross-host edge AGGREGATION is the one corpus-level
    * step and runs once over the drained anchor log through the SHARED
    * `edgesFromLinks`, exactly how a crawl pipeline accumulates its
    * webgraph (per-fetch link records, periodic graph rollup). Fixtures
    * are unioned on as their own final shard (the [[htmlExtractToBatch]]
    * convention), so the rollup equals the batch edge list row for row
    * and shares `q_link_hosts`' oracle verbatim.
    */
  def linkHostsToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Html, LinkGraph}
    import spark.implicits._
    // anchor_text is never read by the rollup: the sink does not carry it
    def links(pages: DataFrame) =
      LinkGraph.linksRaw(pages.select("doc_id", "source", "text")).drop("anchor_text")
    LinkGraph.edgesFromLinks(EventStreams.probeToBatch(rawSource(spark, dir))(links)
      .unionByName(links(Html.MarkupFixtures.toDF("doc_id", "source", "text"))))
  }

  /** STREAMING benchmark-contamination gate —
    * `Dedup.benchmarkContamination` as an ingestion-time filter: the
    * eval set's distinct window fingerprints are the FROZEN artifact
    * (benchmarks are static by definition), each arriving micro-batch
    * probes through the SHARED `Dedup.contaminationProbe`. Verdicts are
    * doc-local given the frozen index, so the union over batches equals
    * the batch scan row for row and both share one oracle.
    */
  def benchmarkContaminationToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = graft.Tables.documents(spark, dir)
    val evalGrams = Dedup.corpusContaminationIndex(docs, Dedup.evalSample(docs))
    EventStreams.probeToBatch(rawSource(spark, dir))(
      Dedup.contaminationProbe(_, evalGrams, k = 8, minShared = Dedup.ContamMinShared))
  }

  /** STREAMING incremental DOMAIN token budget —
    * `Domains.incrementalDomainBudget` as continuous ingestion: the
    * corpus's dense per-(domain, bucket) spend grid and the slim hashed
    * corpus frame are the FROZEN artifacts (built once below the ingest
    * split, localCheckpointed); each arriving micro-batch derives its
    * own urls/hashes and probes through the SHARED
    * `Domains.budgetProbe`, so admission verdicts depend only on the
    * frozen spend and the union over batches equals the batch twin row
    * for row (shared oracle).
    */
  def incrementalDomainBudgetToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Domains}
    val docs = graft.Tables.documents(spark, dir)
    Dedup.ingestSplitOf(docs) match {
      case None => Domains.incrementalDomainBudget(docs) // empty in, empty out
      case Some(split) =>
        val corpus = Domains
          .budgetFrame(docs.where(col("doc_id") < split), Domains.DomainBudgetSeed)
          .localCheckpoint()
        val spend = Domains.frozenSpend(corpus)
        EventStreams.probeToBatch(rawSource(spark, dir).where(col("doc_id") >= split))(b =>
          Domains.budgetProbe(Domains.budgetFrame(b, Domains.DomainBudgetSeed),
            spend, corpus, Domains.DomainBudgetTokens))
    }
  }

  /** STREAMING trust funnel — `Pipeline.incrementalTrustFunnel` as
    * continuous ingestion: the frozen artifact bundle (spam-host set,
    * keeper-fp table, keeper LSH band index — `Pipeline.funnelArtifacts`)
    * is built ONCE below the ingest split; each arriving micro-batch is
    * scored per-doc through the SHARED `scoreShardAgainstFunnel`, and
    * the rollup runs once post-drain. Verdicts are probe-only against
    * the artifacts (no shard-internal pairs), so the union over batches
    * equals the batch twin row for row and both share one oracle.
    */
  def trustFunnelToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Pipeline, SignatureStore}
    val docs = graft.Tables.documents(spark, dir)
    Dedup.ingestSplitOf(docs) match {
      case None => Pipeline.incrementalTrustFunnel(docs) // empty in, empty out
      case Some(split) =>
        // frozen: every micro-batch probes the bundle
        val arts = Pipeline.funnelArtifacts(
          docs, split, Some(SignatureStore.table(spark, dir)), 0.5, frozen = true)
        Pipeline.funnelRollup(EventStreams.probeToBatch(
          rawSource(spark, dir).where(col("doc_id") >= split))(
          Pipeline.scoreShardAgainstFunnel(_, arts)))
    }
  }

  /** STREAMING incremental LINE dedup — `Dedup.incrementalLineDedup`
    * running as continuous ingestion: the corpus's slim line-frequency
    * index (lines one occurrence short of the excision threshold) is the
    * FROZEN artifact, built once below the ingest split and
    * localCheckpointed; each arriving micro-batch chops its own lines and
    * excises against the index through the SHARED
    * `Dedup.excisionReport`/`linesOf` pieces, so the stream answers with
    * the batch twin's exact report (shared oracle).
    */
  def incrementalLineDedupToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = graft.Tables.documents(spark, dir)
    Dedup.ingestSplitOf(docs) match {
      case None => Dedup.lineDedup(docs) // empty in, empty out
      case Some(split) =>
        val idx = Dedup.corpusLineIndex(
          Dedup.linesOf(docs.where(col("doc_id") < split), Dedup.LineLen),
          Dedup.LineMinOccurrences).localCheckpoint()
        EventStreams.probeToBatch(rawSource(spark, dir).where(col("doc_id") >= split))(b =>
          Dedup.excisionReport(Dedup.linesOf(b, Dedup.LineLen), idx))
    }
  }

  /** STREAMING ingestion novelty — `TextAnalysis.incrementalNgramNovelty`
    * as continuous ingestion: the corpus's distinct-shingle vocabulary is
    * frozen ONCE as a static frame, and each micro-batch of arriving
    * documents probes it through the SAME `novelProbe` the batch twin
    * uses. Per-document verdicts depend only on the frozen index, so the
    * union over micro-batches equals the batch answer row for row and
    * both share one oracle.
    */
  def ngramNoveltyToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis}
    val docs = graft.Tables.documents(spark, dir)
    Dedup.ingestSplitOf(docs) match {
      case None =>
        docs.select(col("doc_id"), lit(0L).as("n_ngrams"),
          lit(0L).as("n_novel"), lit(0L).as("novelty_milli"))
      case Some(split) =>
        val idx = TextAnalysis
          .corpusNgramIndex(docs.where(col("doc_id") < split))
          .localCheckpoint()
        EventStreams.probeToBatch(rawSource(spark, dir).where(col("doc_id") >= split))(
          TextAnalysis.novelProbe(_, idx))
    }
  }

  /** STREAMING incremental near-dup — `Dedup.incrementalNearDups` running
    * as continuous ingestion: the corpus's shingles and capped LSH band
    * index are built ONCE as static frames, and each micro-batch of
    * arriving shard documents probes them through the SAME
    * `probeCorpusIndex` the batch operator uses (signatures are per-doc,
    * so per-batch batch-semantics inside foreachBatch need no cross-batch
    * state — a shard doc is processed in exactly one batch, and the
    * contract is shard-vs-CORPUS pairs only, exactly like the batch twin,
    * whose oracle this query shares verbatim).
    */
  def incrementalNearDupsToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = graft.Tables.documents(spark, dir)
    Dedup.ingestSplitOf(docs) match {
      case None => Dedup.emptyIncrementalPairs(docs)
      case Some(split) =>
        // corpus shingles + band index from the PERSISTED SignatureStore
        // (r17) — the batch twin's (`q_dedup_incremental`) production
        // shape: stored rows are pure functions of the text, so the
        // probe output (and the shared oracle) is bit-identical to
        // re-shingling the corpus here.
        val corpusTbl = graft.operators.SignatureStore.table(spark, dir)
          .where(col("doc_id") < split)
        // the whole probe bundle frozen (keyed once) before the
        // micro-batch loop — a per-batch probe does zero corpus-side
        // recomputation
        val cdx = Dedup.corpusBandIndexFromTable(corpusTbl, frozen = true)
        EventStreams.probeToBatch(rawSource(spark, dir).where(col("doc_id") >= split))(b =>
          Dedup.probeCorpusIndex(Dedup.shingled(b), cdx, 0.5))
    }
  }

  /** STREAMING incremental DSIR: the continuous-ingestion form of
    * `Dsir.incrementalScores` — the corpus's bucket-weight table is the
    * FROZEN artifact (trained once below the ingest split,
    * localCheckpointed), and each incoming micro-batch is scored against
    * it through the SHARED `Dsir.scoreShardAgainstWeights`, so the stream
    * answers with the batch operator's exact semantics. Stateless across
    * batches (the weights never move mid-stream — retraining is a
    * batch-side decision), so a full drain equals the batch twin
    * row-for-row — the oracle is shared verbatim.
    */
  def dsirScoresToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Dsir}
    val docs = graft.Tables.documents(spark, dir)
    Dedup.ingestSplitOf(docs) match {
      case None =>
        docs.select(col("doc_id"), col("source"),
          lit(0L).as("n_feats"), lit(0L).as("logw_f")).limit(0)
      case Some(split) =>
        val corpusFb = Dsir
          .featureBuckets(docs.where(col("doc_id") < split)).localCheckpoint()
        val weights = Dsir.bucketWeights(corpusFb).localCheckpoint()
        val lamDefault = Dsir.lamDefaultOf(corpusFb).localCheckpoint()
        EventStreams.probeToBatch(rawSource(spark, dir).where(col("doc_id") >= split))(
          Dsir.scoreShardAgainstWeights(_, weights, lamDefault))
    }
  }

  /** STREAMING incremental leak-free split — `Splits
    * .incrementalLeakFreeSplit` as continuous ingestion: the corpus-side
    * cluster+split assignment AND the capped band index are frozen
    * artifacts (built once below the ingest boundary), and each arriving
    * micro-batch probes the index and takes its assignment through the
    * SHARED `Splits.assignArrivals` tail — matched docs inherit their
    * corpus cluster's split, the rest hash-split as singletons, all
    * within the batch (a doc arrives exactly once; no cross-batch
    * state), so a full drain equals the batch twin row-for-row, oracle
    * shared verbatim.
    */
  def leakFreeSplitsToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Splits}
    val docs = graft.Tables.documents(spark, dir)
    Dedup.ingestSplitOf(docs) match {
      case None =>
        docs.select(col("doc_id"), col("doc_id").as("cluster_id"),
          lit("train").as("split"), lit(false).as("inherited")).limit(0)
      case Some(split) =>
        val corpus = docs.where(col("doc_id") < split)
        // corpus shingles + signatures come from the PERSISTED
        // SignatureStore (r17) — the incremental twin's production shape
        // (`Splits.incrementalLeakFreeSplit`): signatures are pure
        // functions of the text, so the stored rows are bit-identical to
        // re-shingling the corpus here, and the shared oracle is
        // untouched. The store's group columns span the WHOLE table, so
        // the corpus slice regroups its own rows (the same move as the
        // incremental twin); the checkpointed artifact feeds the pair
        // miner (assignment), the band index, and every batch's
        // verification join. It is already keyed side-locally, so the
        // bundle builds from it directly and only its `idx` freezes.
        val corpusTbl = Dedup.withContentGroups(
          graft.operators.SignatureStore.table(spark, dir)
            .where(col("doc_id") < split).drop("group_id", "members"))
          .localCheckpoint()
        val cdx = Dedup.corpusBandIndexFromKeyed(corpusTbl, frozen = true)
        val corpusAssign = Splits.leakFreeSplit(
          corpus, Dedup.nearDuplicatePairsFromTable(corpusTbl))
          .select(col("doc_id").as("corpus_doc"),
            col("cluster_id"), col("split"))
          .localCheckpoint()
        EventStreams.probeToBatch(rawSource(spark, dir).where(col("doc_id") >= split))(b =>
          Splits.assignArrivals(
            b, Dedup.probeCorpusIndex(Dedup.shingled(b), cdx, 0.5), corpusAssign))
    }
  }

  /** STREAMING trained-classifier gate: `TextAnalysis.nbScore` running as
    * continuous ingestion — the Naive Bayes model and its prior/floor
    * constants are FROZEN artifacts (trained once on the train split,
    * localCheckpointed, exactly the [[dsirScoresToBatch]] asymmetry:
    * retraining is a batch-side decision, never a mid-stream drift), and
    * each micro-batch scores through the SHARED
    * `TextAnalysis.nbScoreAgainst`, so the stream answers with the batch
    * operator's exact semantics. Scoring is per-document and a doc
    * arrives in exactly one batch, so a full drain equals the batch twin
    * row-for-row, oracle shared verbatim. This is the learned upgrade of
    * the fixed-rule streaming quality+PII gate.
    */
  def nbScoresToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val docs = graft.Tables.documents(spark, dir)
    val model = TextAnalysis.nbTrain(docs).localCheckpoint()
    val consts = TextAnalysis.nbConsts(docs, model).localCheckpoint()
    EventStreams.probeToBatch(rawSource(spark, dir))(
      TextAnalysis.nbScoreAgainst(_, model, consts))
  }

  /** STREAMING anchor-context indexing — the continuous-crawl form of
    * `AnchorStore.anchorCtxBm25Incremental`: the PERSISTED base-crawl
    * context index is the frozen artifact; each arriving micro-batch
    * parses ONLY its own pages (`anchorContextTermIndexShard` — no
    * fixtures, those live in the base index) into partial
    * (host, tok, tf) counts; the post-drain rollup sums the base index
    * with every batch's partials and scores once with the shared BM25
    * tail. tf is additive and page extraction row-local, so batches
    * compose exactly: stream ≡ incremental ≡ full rebuild, one oracle
    * for all three.
    */
  def anchorCtxToBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{AnchorStore, Dedup, LinkGraph}
    val docs = graft.Tables.documents(spark, dir)
    Dedup.ingestSplitOf(docs) match {
      case None => AnchorStore.anchorCtxBm25Hosts(spark, dir) // empty corpus
      case Some(split) =>
        val base = AnchorStore.ctxBaseIndex(spark, dir, split)
        val partials = EventStreams.probeToBatch(
          rawSource(spark, dir).where(col("doc_id") >= split))(
          LinkGraph.anchorContextTermIndexShard)
        LinkGraph.anchorBm25FromIndex(base.unionByName(partials)
          .groupBy("host", "tok").agg(sum("tf").as("tf")))
    }
  }
}
