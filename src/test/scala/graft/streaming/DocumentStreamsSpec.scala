package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Ingest-time content dedup of a document stream: batch parity of the
  * surviving-fingerprint set, cross-batch duplicate suppression, and
  * bounded (watermark-evicted) state.
  */
class DocumentStreamsSpec extends SparkSpec {

  test("streamed dedup fingerprint set == batch distinct fingerprints") {
    val dir = sf("sf0.001")
    val streamed = DocumentStreams.dedupToBatch(spark, dir)
      .collect().map(_.getString(0)).toSet
    val batch = graft.operators.Dedup
      .exactDuplicates(graft.Tables.documents(spark, dir))
      .select("fp_md5").collect().map(_.getString(0)).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming quality gate admits exactly the batch filter's rows") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("quality_src")
    val good = "the quick brown fox jumps over a lazy dog today" // 10 toks + stopwords
    Seq(
      (1L, good, "en", "s1", 0L),
      (2L, "too short", "en", "s1", 0L),                        // < 10 tokens
      (3L, good + " mail me at a.b@c.io ok", "en", "s2", 0L),   // PII: email
      (4L, good + " from 10.0.0.1 server", "en", "s2", 0L),     // PII: ipv4
      (5L, good + " account 12345678 please", "en", "s3", 0L),  // PII: digits
      (6L, "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp", "en", "s3", 0L)) // no stopword
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$srcDir/stage")
    // rawSource's pathGlobFilter expects the testdata layout: ONE file
    // literally named documents.parquet, not a directory of part files
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$srcDir/stage"))
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    java.nio.file.Files.copy(
      part, java.nio.file.Paths.get(s"$srcDir/documents.parquet"))
    val admitted = DocumentStreams.qualityFilteredToBatch(spark, srcDir.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(admitted === Set((1L, "en", "s1")))
    EventStreams.deleteRecursivelyOnExit(srcDir)
  }

  test("DLQ split partitions the corpus: admitted + rejected = all, reasons by priority") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val dlq = DocumentStreams.dlqSplitToBatch(spark, dir).collect()
    val admitted = DocumentStreams.qualityFilteredToBatch(spark, dir).collect()
    val total = graft.Tables.documents(spark, dir).count()
    assert(dlq.length + admitted.length === total.toInt,
      "every document must land in exactly one sink")
    assert(dlq.nonEmpty && admitted.nonEmpty)
    val dlqIds = dlq.map(_.getLong(0)).toSet
    assert(admitted.map(_.getLong(0)).toSet.intersect(dlqIds).isEmpty)
    // reasons come from the fixed priority chain and nothing else
    val reasons = dlq.map(_.getString(3)).toSet
    assert(reasons.subsetOf(Set(
      "too_short", "no_stopwords", "pii_email", "pii_ipv4", "pii_digit_run")))
    // priority: a doc that is BOTH short and PII must report too_short
    val shortPii = graft.Tables.documents(spark, dir)
      .where(size(split(trim(col("text")), "\\s+")) < 10 &&
        size(regexp_extract_all(col("text"),
          lit(graft.operators.TextAnalysis.EmailPattern), lit(0))) > 0)
      .select("doc_id").collect().map(_.getLong(0))
    shortPii.foreach { id =>
      assert(dlq.find(_.getLong(0) == id).get.getString(3) === "too_short")
    }
  }

  test("streaming word count == batch word count (reference flagship, continuous)") {
    val dir = sf("sf0.001")
    val streamed = DocumentStreams.wordCountsToBatch(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.operators.WordCount
      .counts(graft.Tables.documents(spark, dir), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("update-mode keyed store: cross-batch upsert merges to the batch counts") {
    import spark.implicits._
    // two source files + maxFilesPerTrigger=1 force (at least) two
    // micro-batches with overlapping vocabulary, so words counted in batch
    // 1 get UPDATED rows in batch 2 and merge-on-read must pick the later
    val srcDir = java.nio.file.Files.createTempDirectory("wcstore_src")
    val tmp = java.nio.file.Files.createTempDirectory("wcstore")
    Seq((1L, "alpha beta alpha")).toDF("doc_id", "text")
      .write.parquet(s"$srcDir/f1.parquet")
    Seq((2L, "beta gamma Alpha,")).toDF("doc_id", "text")
      .write.parquet(s"$srcDir/f2.parquet")
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true") // each .write above is a subdir
      .parquet(srcDir.toString)
    EventStreams.upsertToStore(
      graft.operators.WordCount.counts(docs, "text"), s"$tmp/store")
    // the log-structured store holds MORE rows than the vocabulary (one
    // per word per batch that changed it) — the upsert semantics live in
    // the merge-on-read
    val logRows = spark.read.parquet(s"$tmp/store")
    assert(logRows.count() > logRows.select("word").distinct().count(),
      "expected at least one cross-batch word update in the store log")
    val merged = EventStreams.latestPerKey(spark.read.parquet(s"$tmp/store"), "word")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === Map("alpha" -> 3L, "beta" -> 2L, "gamma" -> 1L))
    // compaction rewrites the log to one row per word and preserves the
    // merge-on-read answer (and future, higher, batch ids still win)
    EventStreams.compactStore(spark, s"$tmp/store", "word")
    val compacted = spark.read.parquet(s"$tmp/store")
    assert(compacted.count() === 3)
    val afterCompact = EventStreams.latestPerKey(spark.read.parquet(s"$tmp/store"), "word")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterCompact === merged)
    EventStreams.deleteRecursivelyOnExit(srcDir)
    EventStreams.deleteRecursivelyOnExit(tmp)
  }

  test("content duplicates are dropped across batches; state evicts past the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(minute: Int) = new java.sql.Timestamp(86400000L + minute * 60000L)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocumentStreams.deduped(
      input.toDF().toDF("doc_id", "text", "ingest_ts")
        .withWatermark("ingest_ts", "10 minutes"))
      .writeStream.format("memory").queryName("doc_dedup_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // same normalized content, different doc ids, across two batches
      input.addData((1L, "Hello  World", ts(0)), (2L, "hello world", ts(1)))
      q.processAllAvailable()
      input.addData((3L, "HELLO world", ts(2)), (4L, "fresh text", ts(3)))
      q.processAllAvailable()
      val ids = spark.table("doc_dedup_stream")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 4L), "one survivor per normalized content")
      val stateBefore = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateBefore === 2, "one state row per live fingerprint")
      // advance event time far past the horizon: fingerprint state evicts
      input.addData((5L, "much later doc", ts(120)))
      q.processAllAvailable()
      input.addData((6L, "even later", ts(121)))
      q.processAllAvailable()
      val stateAfter = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateAfter < 4,
        s"evicted fingerprints must leave state, got $stateAfter rows")
    } finally q.stop()
  }

  test("streaming incremental line dedup equals the batch operator (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    val streamed = canon(DocumentStreams.incrementalLineDedupToBatch(spark, dir))
    val batch = canon(graft.operators.Dedup.incrementalLineDedup(
      graft.Tables.documents(spark, dir)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming repetition excision equals the batch operator (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toSet
    val streamed = canon(DocumentStreams.repetitionExciseToBatch(spark, dir))
    val batch = canon(graft.operators.Dedup.repetitionExcise(
      graft.Tables.documents(spark, dir)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming link-graph ingestion equals the batch edge list (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val streamed = canon(DocumentStreams.linkHostsToBatch(spark, dir))
    val batch = canon(graft.operators.LinkGraph.hostEdges(
      graft.Tables.documents(spark, dir)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming HTML extraction equals the batch operator (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val streamed = canon(DocumentStreams.htmlExtractToBatch(spark, dir))
    val batch = canon(graft.operators.Html.extractionReport(
      graft.Tables.documents(spark, dir)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming winnow overlap equals the batch operator (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
    val streamed = canon(DocumentStreams.incrementalWinnowOverlapToBatch(spark, dir))
    val batch = canon(graft.operators.Dedup.incrementalWinnowOverlap(
      graft.Tables.documents(spark, dir)))
    assert(streamed === batch)
  }

  test("streaming ingestion novelty equals the batch operator (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = canon(DocumentStreams.ngramNoveltyToBatch(spark, dir))
    val batch = canon(graft.operators.TextAnalysis.incrementalNgramNovelty(
      graft.Tables.documents(spark, dir)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming incremental dedup equals the batch operator (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4))).toSet
    val streamed = canon(DocumentStreams.incrementalNearDupsToBatch(spark, dir))
    val batch = canon(graft.operators.Dedup.incrementalNearDups(
      graft.Tables.documents(spark, dir)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("per-batch index probes compose: two shard batches union to the batch answer") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val split = Dedup.ingestSplitOf(docs).get
    val corpusSh = Dedup.shingled(docs.where(col("doc_id") < split)).localCheckpoint()
    val cdx = Dedup.corpusBandIndex(corpusSh, frozen = true)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the shard arrives as two disjoint micro-batches (split by parity):
    // probing each against the STATIC index bundle and unioning must equal
    // the one-shot batch probe — no cross-batch state is needed
    val shard = docs.where(col("doc_id") >= split)
    val b1 = canon(Dedup.probeCorpusIndex(
      Dedup.shingled(shard.where(col("doc_id") % 2 === 0)), cdx, 0.5))
    val b2 = canon(Dedup.probeCorpusIndex(
      Dedup.shingled(shard.where(col("doc_id") % 2 === 1)), cdx, 0.5))
    val whole = canon(Dedup.incrementalNearDups(docs))
    assert((b1 ++ b2) === whole)
    assert(b1.intersect(b2).isEmpty, "a shard doc lives in exactly one batch")
    assert(whole.nonEmpty)
  }

  test("streaming trust funnel equals the batch incremental rollup (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = canon(DocumentStreams.trustFunnelToBatch(spark, dir))
    val batch = canon(graft.operators.Pipeline.incrementalTrustFunnel(
      graft.Tables.documents(spark, dir),
      sigTable = Some(graft.operators.SignatureStore.table(spark, dir))))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming DSIR scoring equals the batch operator (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = canon(DocumentStreams.dsirScoresToBatch(spark, dir))
    val batch = canon(graft.operators.Dsir.incrementalScores(
      graft.Tables.documents(spark, dir)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("frozen-weight scoring composes: two shard batches union to the batch answer") {
    import graft.operators.{Dedup, Dsir}
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val split = Dedup.ingestSplitOf(docs).get
    val corpusFb = Dsir.featureBuckets(docs.where(col("doc_id") < split))
      .localCheckpoint()
    val weights = Dsir.bucketWeights(corpusFb).localCheckpoint()
    val dflt = Dsir.lamDefaultOf(corpusFb).localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val shard = docs.where(col("doc_id") >= split)
    val b1 = canon(Dsir.scoreShardAgainstWeights(
      shard.where(col("doc_id") % 2 === 0), weights, dflt))
    val b2 = canon(Dsir.scoreShardAgainstWeights(
      shard.where(col("doc_id") % 2 === 1), weights, dflt))
    val whole = canon(Dsir.incrementalScores(docs))
    assert((b1 ++ b2) === whole)
    assert(b1.intersect(b2).isEmpty, "a shard doc lives in exactly one batch")
    assert(whole.nonEmpty)
  }

  test("streaming A-ES sample equals the batch bottom-k (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = canon(DocumentStreams.aesSampleToBatch(spark, dir))
    val batch = canon(graft.operators.Sampling.weightedExactSample(
      graft.Tables.documents(spark, dir)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming leak-free split equals the batch probe (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(3))).toSet
    val streamed = canon(DocumentStreams.leakFreeSplitsToBatch(spark, dir))
    val batch = canon(graft.operators.Splits.incrementalLeakFreeSplit(
      graft.Tables.documents(spark, dir),
      graft.operators.SignatureStore.table(spark, dir)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming NB gate equals batch scoring under the frozen model (driver data)") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val streamed = canon(DocumentStreams.nbScoresToBatch(spark, dir))
    val batch = canon(graft.operators.TextAnalysis.nbScore(
      graft.Tables.documents(spark, dir)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("per-batch bottom-ks compose: the monoid merge equals the whole-corpus bottom-k") {
    import graft.operators.Sampling
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
    val k = 40L
    val b1 = Sampling.weightedExactSample(docs.where(col("doc_id") % 2 === 0), k)
    val b2 = Sampling.weightedExactSample(docs.where(col("doc_id") % 2 === 1), k)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val whole = canon(Sampling.weightedExactSample(docs, k))
    assert(whole.nonEmpty)
    // the monoid property: bottom-k of the union of per-batch bottom-ks
    // equals bottom-k of the whole corpus
    val mergedRaw = (canon(b1) ++ canon(b2)).toSeq
      .sortBy { case (id, _, key) => (key, id) }.take(k.toInt).toSet
    assert(mergedRaw === whole)
  }

  test("streaming anchor-context retrieval equals the full-rebuild ranking (driver data)") {
    val dir = sf("sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val streamed = rows(DocumentStreams.anchorCtxToBatch(spark, dir))
    // batches partition the shard and tf partials sum post-drain, so the
    // stream must reproduce the fresh full index's ranking bit-exactly
    val full = rows(graft.operators.LinkGraph.anchorBm25FromIndex(
      graft.operators.LinkGraph.anchorContextTermIndex(
        graft.Tables.documents(spark, dir))))
    assert(streamed === full)
    assert(streamed.nonEmpty)
  }

  test("probeToBatch reads back perBatch's schema whether or not a batch fired") {
    val empty = java.nio.file.Files.createTempDirectory("probe_empty_src")
    def probed(dir: String) = EventStreams.probeToBatch(
      DocumentStreams.rawSource(spark, dir))(graft.operators.Dedup.repetitionExcise(_))
    def shape(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
    // no documents.parquet in the dir: the stream fires no batch, so the
    // schema comes from perBatch over an empty static frame
    val none = probed(empty.toString)
    val some = probed(sf("sf0.001"))
    assert(none.count() === 0)
    assert(some.count() > 0)
    assert(shape(none) === shape(some))
    assert(shape(some) === shape(graft.operators.Dedup.repetitionExcise(
      graft.Tables.documents(spark, sf("sf0.001")))))
    EventStreams.deleteRecursivelyOnExit(empty)
  }
}
