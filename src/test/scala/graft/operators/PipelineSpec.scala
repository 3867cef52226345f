package graft.operators

import graft.SparkSpec

class PipelineSpec extends SparkSpec {

  test("sourceCurationStats: cross-source duplicates, language spread, token totals") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", "en", "s1"),             // dup of doc 2 (other source)
      (2L, "a  b c ", "en", "s2"),           // normalized-equal to doc 1
      (3L, "unique words right here", "de", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val rows = Pipeline.sourceCurationStats(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    // s1: two docs, one of them duplicated corpus-wide, two langs, 3+4 tokens
    assert(rows("s1") === ((2L, 1L, 2L, 7L, 3.5)))
    // s2: its single doc is a duplicate of s1's
    assert(rows("s2") === ((1L, 1L, 1L, 3L, 3.0)))
  }

  test("bestOfClusterKeepers keeps the longest member, min-id on ties, singletons whole") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5).trim
    val other = ("one two three four five six seven eight nine ten " * 5).trim
    val docs = Seq(
      1L -> base,                                  // cluster {1,2,3}:
      2L -> (base + " " + base),                   //   longest -> keeper
      3L -> base.replace("delta", "DELTA-EDIT"),
      7L -> "solitary words matching nothing else", // singleton
      10L -> other, 11L -> other)                  // tie cluster -> min id
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(docs, threshold = 0.3)
      .select(col("doc_a"), col("doc_b"))
    val got = Pipeline.bestOfClusterKeepers(docs, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((2L, 100L, 3L)), "longest member wins its 3-cluster")
    assert(got(7L) === ((7L, 5L, 1L)), "singleton keeps itself")
    assert(got(10L) === ((10L, 50L, 2L)), "equal lengths tie-break to min id")
    assert(got.keySet === Set(1L, 7L, 10L), "one keeper row per cluster")
  }

  test("selectBestPerSource: ceil(n/10) budget, (score, id) total order, exact card") {
    import spark.implicits._
    // 12 docs in source a (budget ceil(12/10) = 2), 1 in source b (= 1);
    // texts vary so the hashed classifier spreads scores
    val docs = ((0L until 12L).map(i =>
      (i, s"the quick doc number$i with words w$i x$i y$i z$i", "a")) :+
      ((20L, "the lone b document with its own words", "b")))
      .toDF("doc_id", "text", "source")
    // brute-force the same selection from the operator's own score frame
    val scored = TextAnalysis.classifierScore(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expected = scored.groupBy(_._2).map { case (src, vs) =>
      val k = (vs.length + 9) / 10
      val sel = vs.sortBy(v => (-v._4, v._1)).take(k)
      src -> ((vs.length.toLong, sel.length.toLong,
        sel.map(_._4).min, sel.map(_._3).sum))
    }
    val got = Pipeline.selectBestPerSource(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
    assert(got("a")._2 === 2L)
    assert(got("b")._2 === 1L)
    val again = Pipeline.selectBestPerSource(docs.repartition(7)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(again === got)
  }

  test("corpusDatasheet: one row whose axes equal independently-computed values") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the alpha beta", "en", "s1"),
      (1L, "", "en", "s2"),
      (2L, "gamma delta the epsilon", "de", "s2"),
      (3L, "the of and a to in", "fr", "s3"))
      .toDF("doc_id", "text", "lang", "source")
    val rows = Pipeline.corpusDatasheet(docs).collect()
    assert(rows.length === 1)
    val r = rows(0)
    val scored = TextAnalysis.classifierScore(docs).collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getBoolean(4)))
    val splits = docs.select(
      org.apache.spark.sql.functions.col("doc_id"),
      Splits.splitOf(org.apache.spark.sql.functions.col("doc_id")).as("sp"))
      .collect().map(x => x.getString(1))
    assert(r.getLong(0) === 4L) // n_docs
    assert(r.getLong(1) === scored.map(_._2).sum) // n_tokens
    assert(r.getLong(2) === docs.collect().map(_.getString(1).length.toLong).sum)
    assert(r.getLong(3) === 3L) // sources
    assert(r.getLong(4) === 3L) // langs
    assert(r.getLong(5) === splits.count(_ == "train"))
    assert(r.getLong(6) === splits.count(_ == "val"))
    assert(r.getLong(7) === splits.count(_ == "test"))
    assert(r.getLong(8) === scored.count(_._3)) // classifier keeps
  }

  test("qualityAgreement cells partition the corpus and agree with the three signal queries") {
    val d = graft.Tables.documents(spark, sf("sf0.001"))
    val cls = TextAnalysis.classifierScore(d).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    val lm = TextAnalysis.lmSurprisal(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    val rare = TextAnalysis.rareBigramRate(d).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val scored = lm.values.filter(_._1 > 0)
    val nScored = scored.size.toLong
    val sumAvg = scored.map(_._2).sum
    val want = cls.keys.toSeq
      .map { id =>
        (cls(id), lm(id)._1 > 0 && lm(id)._2 * nScored > sumAvg, rare(id)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Pipeline.qualityAgreement(d).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2)) -> r.getLong(3))
      .toMap
    assert(got === want)
    assert(got.values.sum === d.count())
    assert(got.size > 1) // the detectors genuinely disagree somewhere
  }

  test("hybridRrfTopK equals the integer RRF of its two component rankings") {
    val dir = sf("sf0.001")
    val documents = graft.Tables.documents(spark, dir)
    val embeddings = graft.Tables.embeddings(spark, dir)
    // component rankings, recomputed independently
    val textRank = TextAnalysis.bm25TopK(documents).collect()
      .map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val denseRank = Similarity
      .bruteForceTopK(embeddings, nQueries = 1, k = TextAnalysis.Bm25K)
      .collect().map(r => r.getLong(1) -> r.getInt(2).toLong).toMap
    val want = (textRank.keySet ++ denseRank.keySet).toSeq.map { id =>
      val rrf =
        textRank.get(id).map(r => 1000000L / (Pipeline.RrfC + r)).getOrElse(0L) +
          denseRank.get(id).map(r => 1000000L / (Pipeline.RrfC + r)).getOrElse(0L)
      (id, rrf)
    }.sortBy { case (id, rrf) => (-rrf, id) }.take(Pipeline.RrfK)
    val got = Pipeline.hybridRrfTopK(documents, embeddings).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(got === want)
    assert(got.size === Pipeline.RrfK)
    // fusion genuinely mixes the two lists: the fused cut must contain a
    // doc from each retriever's pool
    val cut = got.map(_._1).toSet
    assert((cut intersect textRank.keySet).nonEmpty)
    assert((cut intersect denseRank.keySet).nonEmpty)
  }

  test("hybridRrfIvfTopK equals the RRF of bm25 and the trained-IVF ranking") {
    val dir = sf("sf0.001")
    val documents = graft.Tables.documents(spark, dir)
    val embeddings = graft.Tables.embeddings(spark, dir)
    val textRank = TextAnalysis.bm25TopK(documents).collect()
      .map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val denseRank = Similarity
      .ivfTopK(embeddings, nQueries = 1, k = TextAnalysis.Bm25K, trainIters = 2)
      .collect().map(r => r.getLong(1) -> r.getInt(2).toLong).toMap
    val want = (textRank.keySet ++ denseRank.keySet).toSeq.map { id =>
      val rrf =
        textRank.get(id).map(r => 1000000L / (Pipeline.RrfC + r)).getOrElse(0L) +
          denseRank.get(id).map(r => 1000000L / (Pipeline.RrfC + r)).getOrElse(0L)
      (id, rrf)
    }.sortBy { case (id, rrf) => (-rrf, id) }.take(Pipeline.RrfK)
    val got = Pipeline.hybridRrfIvfTopK(documents, embeddings).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(got === want)
    assert(got.size === Pipeline.RrfK)
  }

  test("hybrid fusion recall FLOOR: the IVF-dense cut keeps >= 0.9 of the brute hybrid cut") {
    // the replay tests above prove each variant equals its own formula;
    // this is the regression tripwire the formula tests can't give — a
    // probe/centroid regression that silently drops dense recall must
    // fail HERE, not only in a human reading of the recall card
    val dir = sf("sf0.001")
    val documents = graft.Tables.documents(spark, dir)
    val embeddings = graft.Tables.embeddings(spark, dir)
    val brute = Pipeline.hybridRrfTopK(documents, embeddings).collect()
      .map(_.getLong(0)).toSet
    val ivf = Pipeline.hybridRrfIvfTopK(documents, embeddings).collect()
      .map(_.getLong(0)).toSet
    assert(brute.size === Pipeline.RrfK)
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"fusion recall vs brute-force hybrid was $recall")
  }

  test("anchorHybridTopK equals the integer RRF of bm25 and the anchor-doc ranking") {
    val dir = sf("sf0.001")
    val documents = graft.Tables.documents(spark, dir)
    val textRank = TextAnalysis.bm25TopK(documents).collect()
      .map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    val anchorRank = LinkGraph
      .anchorDocRanks(documents, TextAnalysis.Bm25K).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val want = (textRank.keySet ++ anchorRank.keySet).toSeq.map { id =>
      val rrf =
        textRank.get(id).map(r => 1000000L / (Pipeline.RrfC + r)).getOrElse(0L) +
          anchorRank.get(id).map(r => 1000000L / (Pipeline.RrfC + r)).getOrElse(0L)
      (id, rrf)
    }.sortBy { case (id, rrf) => (-rrf, id) }.take(Pipeline.RrfK)
    val got = Pipeline.anchorHybridTopK(documents).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(got === want)
    assert(got.size === Pipeline.RrfK)
    // fusion genuinely mixes: at least one doc from each pool survives
    val cut = got.map(_._1).toSet
    assert((cut intersect textRank.keySet).nonEmpty)
    assert((cut intersect anchorRank.keySet).nonEmpty)
  }

  test("anchorCtxHybridStoredTopK equals the integer RRF over the context index") {
    val dir = sf("sf0.001")
    val documents = graft.Tables.documents(spark, dir)
    val textRank = TextAnalysis.bm25TopK(documents).collect()
      .map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => id -> (i + 1L) }.toMap
    // fresh context-anchor ranking from public parts (the stored path
    // must reproduce it — exact longs round-trip the artifact)
    val anchorRank = LinkGraph.anchorDocRanksFrom(documents,
        LinkGraph.anchorBm25FromIndex(LinkGraph.anchorContextTermIndex(documents)),
        TextAnalysis.Bm25K).collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val want = (textRank.keySet ++ anchorRank.keySet).toSeq.map { id =>
      val rrf =
        textRank.get(id).map(r => 1000000L / (Pipeline.RrfC + r)).getOrElse(0L) +
          anchorRank.get(id).map(r => 1000000L / (Pipeline.RrfC + r)).getOrElse(0L)
      (id, rrf)
    }.sortBy { case (id, rrf) => (-rrf, id) }.take(Pipeline.RrfK)
    val got = Pipeline.anchorCtxHybridStoredTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(got === want)
    assert(got.size === Pipeline.RrfK)
  }

  test("retentionFunnel: first-reject verdicts partition the corpus, stage by stage") {
    val dir = sf("sf0.001")
    val documents = graft.Tables.documents(spark, dir)
    val got = Pipeline.retentionFunnel(documents,
      sigTable = Some(SignatureStore.table(spark, dir))).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.keys.map(_._2).toSet.subsetOf(
      Set("low_quality", "spam_host", "exact_dup", "near_dup", "kept")))
    // the funnel property: verdict counts sum exactly to the corpus,
    // globally and per source
    assert(got.values.sum === documents.count())
    val perSource = documents.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.keys.map(_._1).toSeq.distinct.foreach { src =>
      assert(got.filter(_._1._1 == src).values.sum === perSource(src), src)
    }
    // stage 1 replay: low_quality counts equal the brute quality rule
    import org.apache.spark.sql.functions.{col, size, split, trim}
    val lowQ = documents.select(col("source"),
        split(trim(col("text")), "\\s+").as("t")).collect()
      .map { r =>
        val toks = r.getSeq[String](1)
        (r.getString(0),
          toks.size < 10 || !toks.exists(TextAnalysis.Stopwords.contains))
      }
      .groupBy(_._1).map { case (s, g) => s -> g.count(_._2).toLong }
    lowQ.foreach { case (src, n) =>
      assert(got.getOrElse((src, "low_quality"), 0L) === n, s"low_quality of $src")
    }
    // stage 2 replay: spam_host counts equal quality survivors on
    // spamHosts hosts
    val spam = LinkGraph.spamHosts(documents)
      .collect().map(_.getString(0)).toSet
    assert(spam.nonEmpty, "gate must engage on this corpus")
    val spamCounts = documents.select(col("source"), col("doc_id"),
        split(trim(col("text")), "\\s+").as("t"),
        Domains.hostOf(col("doc_id"), col("source")).as("host")).collect()
      .map { r =>
        val toks = r.getSeq[String](2)
        val qOk = toks.size >= 10 && toks.exists(TextAnalysis.Stopwords.contains)
        (r.getString(0), qOk && spam.contains(r.getString(3)))
      }
      .groupBy(_._1).map { case (s, g) => s -> g.count(_._2).toLong }
    spamCounts.foreach { case (src, n) =>
      assert(got.getOrElse((src, "spam_host"), 0L) === n, s"spam_host of $src")
    }
    assert(got.keys.exists(_._2 == "kept"))
    assert(got.keys.exists(_._2 == "near_dup") || got.keys.exists(_._2 == "exact_dup"))
  }

  test("FunnelStore: stored bundle reproduces the incremental rollup; built once; no re-rank") {
    val dir = sf("sf0.001")
    val docs = graft.Tables.documents(spark, dir)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val fresh = canon(Pipeline.incrementalTrustFunnel(docs,
      sigTable = Some(SignatureStore.table(spark, dir))))
    val stored = canon(FunnelStore.trustFunnelStored(spark, dir))
    assert(stored === fresh)
    assert(stored.nonEmpty)
    // a second invocation must READ, not rebuild (one build per dir/JVM)
    val again = canon(FunnelStore.trustFunnelStored(spark, dir))
    assert(again === fresh)
    assert(FunnelStore.builds(dir) === 1)
    // the stored scoring path never synthesizes pages or re-ranks the
    // webgraph: no regexp extraction in its executed plan (the
    // RankStore/AnchorStore marker — page parsing is regexp_extract_all)
    val plan = FunnelStore.trustFunnelStored(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("regexp_extract"),
      "stored funnel scoring must read the artifacts, not re-parse pages")
  }

  test("incrementalTrustFunnel: the fresh artifact build keys its dedup bundle once (job budget)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, TestTaskEvents}
    val dir = sf("sf0.001")
    val docs = graft.Tables.documents(spark, dir)
    val sig = SignatureStore.table(spark, dir) // built once per JVM, outside the count
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    TestTaskEvents.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      Pipeline.incrementalTrustFunnel(docs, sigTable = Some(sig)).collect()
      TestTaskEvents.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    // freezing idx/repSh/memberMap one by one (each re-running the side
    // grouping and the corpus projection) ran 107 jobs here; one keyed
    // plan over the keeper ids runs 67-68, and per-frame freezing on top
    // of it 78. The ceiling leaves room for AQE's few-job swing, not for
    // a return to per-frame freezing.
    assert(jobs.get() <= 72, s"${jobs.get()} jobs")
  }

  test("incrementalTrustFunnel: arrival verdicts replay against FROZEN artifacts") {
    import org.apache.spark.sql.functions.{col, md5}
    val dir = sf("sf0.001")
    val documents = graft.Tables.documents(spark, dir)
    val maxId = documents.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head().getLong(0)
    val split = (maxId + 1L) * 4L / 5L
    // brute per-doc frame: (doc_id, source, host, fp, toks)
    val rows = documents.select(col("doc_id"), col("source"),
        Domains.hostOf(col("doc_id"), col("source")).as("host"),
        md5(TextAnalysis.normalized(col("text"))).as("fp"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4).trim.split("\\s+").toSeq))
    def qOk(toks: Seq[String]) =
      toks.size >= 10 && toks.exists(TextAnalysis.Stopwords.contains)
    // frozen artifacts: spam hosts + keeper fps of the EXISTING sub-corpus
    val spam = LinkGraph.spamHosts(documents.where(col("doc_id") < split))
      .collect().map(_.getString(0)).toSet
    val existing = rows.filter(_._1 < split)
    val arriving = rows.filter(_._1 >= split)
    assert(arriving.nonEmpty && existing.nonEmpty)
    val exReach = existing.filter(r => qOk(r._5) && !spam.contains(r._3))
    val keeperByFp = exReach.groupBy(_._4).map { case (fp, g) =>
      fp -> g.map(_._1).min }
    def shingles(toks: Seq[String]): Set[String] = {
      val capped = toks.take(graft.functions.TextFunctions.MaxShingleTokens)
      if (capped.size < 3) Set.empty
      else capped.sliding(3).map(_.mkString(" ")).toSet
    }
    val exKeeperSh = exReach
      .filter(r => keeperByFp(r._4) == r._1).map(r => shingles(r._5))
      .filter(_.nonEmpty)
    val want = arriving.map { r =>
      val verdict =
        if (!qOk(r._5)) "low_quality"
        else if (spam.contains(r._3)) "spam_host"
        else if (keeperByFp.contains(r._4)) "exact_dup"
        else {
          val sh = shingles(r._5)
          val near = sh.nonEmpty && exKeeperSh.exists(e =>
            (sh intersect e).size.toDouble / (sh union e).size >= 0.5)
          if (near) "near_dup" else "kept"
        }
      ((r._2, verdict), r._5.size.toLong)
    }.groupBy(_._1).map { case (k, g) =>
      k -> ((g.size.toLong, g.map(_._2).sum)) }
    val got = Pipeline.incrementalTrustFunnel(documents,
      sigTable = Some(SignatureStore.table(spark, dir))).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got === want)
    // the funnel property on the shard: verdict counts sum to arrivals
    assert(got.values.map(_._1).sum === arriving.size.toLong)
  }
}
