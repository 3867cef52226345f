package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical normalized text, keeps min doc_id") {
    val d = docs(
      1L -> "Hello   World",
      2L -> "hello world",
      3L -> "  HELLO WORLD  ",
      4L -> "something else entirely")
    val got = Dedup.exactDuplicates(d)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((3L, 1L), (1L, 4L))) // (n_copies, keeper)
  }

  test("exact dedup collapses NFC and NFD spellings of the same text (r15)") {
    // "café menu" precomposed (U+00E9) vs decomposed (e + U+0301): same
    // visible text, different bytes — a mixed-normalization crawl's most
    // common duplicate shape. The NFC-composed fingerprint must group
    // them; pre-r15 they hashed apart.
    val d = docs(
      1L -> "café menu",
      2L -> "café menu",
      3L -> "CAFÉ MENU",
      4L -> "tea menu")
    val got = Dedup.exactDuplicates(d)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((3L, 1L), (1L, 4L)))
  }

  test("minhash LSH finds planted near-dup pairs and skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val nearDup = base.replace("delta", "DELTA-EDIT") // small edit
    val unrelated = "one two three four five six seven eight nine ten " * 5
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated, 4L -> base)
    val pairs = Dedup.nearDuplicatePairs(d, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near dups
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated excluded
  }

  test("pairContainment classifies mutual / a_in_b / b_in_a / partial") {
    // disjoint vocabularies per planted pair so no cross-pair candidates
    val sub = (1 to 16).map(i => s"w$i").mkString(" ")     // 14 shingles
    val sup = sub + " e1 e2 e3"                            // 17, superset
    val ident = (1 to 12).map(i => s"m$i").mkString(" ")   // 10 shingles
    val core = (1 to 18).map(i => s"c$i").mkString(" ")
    val sub2 = (1 to 16).map(i => s"v$i").mkString(" ")
    val sup2 = sub2 + " f1 f2 f3"
    val d = docs(
      1L -> sub, 2L -> sup, // subset first by id -> a_in_b
      3L -> ident, 4L -> ident, // identical -> mutual
      5L -> (core + " p1 p2"), 6L -> (core + " q1 q2"), // two tails -> partial
      10L -> sup2, 11L -> sub2) // superset first by id -> b_in_a
    val got = Dedup.pairContainment(Dedup.shingleSignatureTable(d))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getString(7)))).toMap
    assert(got === Map(
      (1L, 2L) -> ((14L, 14L, 17L, 1000L, 823L, "a_in_b")),
      (3L, 4L) -> ((10L, 10L, 10L, 1000L, 1000L, "mutual")),
      (5L, 6L) -> ((16L, 18L, 18L, 888L, 888L, "partial")),
      (10L, 11L) -> ((14L, 17L, 14L, 823L, 1000L, "b_in_a"))))
  }

  test("dedupMethodAgreement: planted both / minhash_only / simhash_only pairs") {
    val ident = (1 to 12).map(i => s"g$i").mkString(" ")
    // shares 16 of 20 tokens -> jaccard 0.64, but the 8 differing tokens
    // flip 10 simhash bits (verified offline against the same md5 chain)
    val baseW = (1 to 16).map(i => s"w$i")
    val mhOnlyA = (baseW ++ (0 until 4).map(j => s"p1_$j")).mkString(" ")
    val mhOnlyB = (baseW ++ (0 until 4).map(j => s"q1_$j")).mkString(" ")
    // same token MULTISET in reverse order: simhash distance 0 by
    // construction, shingle sets disjoint -> jaccard 0
    val rev = (1 to 20).map(i => s"r$i")
    val d = docs(
      1L -> ident, 2L -> ident,
      3L -> mhOnlyA, 4L -> mhOnlyB,
      5L -> rev.mkString(" "), 6L -> rev.reverse.mkString(" "))
    val got = Dedup.dedupMethodAgreement(d, Dedup.shingleSignatureTable(d))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("both" -> 1L, "minhash_only" -> 1L, "simhash_only" -> 1L))
  }

  test("short docs (< 3 tokens) are excluded from LSH, not crashed on") {
    val d = docs(1L -> "tiny doc", 2L -> "", 3L -> "a b c d e f g h")
    assert(Dedup.nearDuplicatePairs(d, 0.1).count() === 0)
    val sigs = Dedup.minhashSignatures(d).where(col("mh0").isNotNull).count()
    assert(sigs === 1) // only doc 3 has shingles
  }

  test("bucket-size cap drops a planted degenerate bucket, keeps normal pairs") {
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 3
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val nearDup = base.replace("delta", "DELTA-EDIT")
    // 40 identical boilerplate docs -> one degenerate identical-signature
    // bucket of 40; plus one true near-dup pair with distinct text
    val degenerate = (10L until 50L).map(i => i -> boiler)
    val d = docs(degenerate ++ Seq(1L -> base, 2L -> nearDup): _*)
    // with the cap above the bucket size, the boilerplate cluster floods
    // the result with its O(n^2) pairs
    val uncapped = Dedup.nearDuplicatePairs(d, threshold = 0.3, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.size === 1 + 40 * 39 / 2)
    // with the cap below it, the degenerate bucket is dropped whole and the
    // true near-dup pair survives
    val capped = Dedup.nearDuplicatePairs(d, threshold = 0.3, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 2L)))
    // same guard on the simhash band join
    val cappedSim = Dedup.simhashNearDupPairs(d, maxDist = 3, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cappedSim.exists(p => p._1 >= 10L && p._2 >= 10L))
  }

  test("bucket-load diagnostics flag exactly the buckets the caps would drop") {
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 3
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    // 30 identical boilerplate docs (one content group of members=30) + 2
    // distinct normal docs; with cap 20 the boilerplate buckets must read
    // oversized by the WEIGHTED count while holding ONE distinct row (the
    // collapse), and the normal docs' buckets must not
    val d = docs((10L until 40L).map(i => i -> boiler) ++
      Seq(1L -> base, 2L -> ("totally different words here " * 6)): _*)
    val mh = Dedup.minhashBucketLoads(d, cap = 20).collect()
    val mhOver = mh.filter(_.getBoolean(4))
    assert(mhOver.nonEmpty, "weighted cap must flag the boilerplate buckets")
    assert(mhOver.forall(r => r.getLong(2) === 30L && r.getLong(3) === 1L),
      "oversized buckets hold the 30-doc group collapsed to ONE banded row")
    assert(mh.filter(!_.getBoolean(4)).forall(_.getLong(2) <= 20L))
    val sh = Dedup.simhashBucketLoads(d, cap = 20).collect()
    val shOver = sh.filter(_.getBoolean(4))
    assert(shOver.nonEmpty && shOver.forall(r => r.getLong(2) >= 30L && r.getLong(3) >= 1L))
    // an unskewed corpus reports nothing oversized at the default cap
    assert(Dedup.minhashBucketLoads(docs(1L -> base)).where(col("oversized")).count() === 0)
  }

  test("clustersFromPairs closes a transitive chain and labels by min doc_id") {
    import spark.implicits._
    // path 3–5–8: node 8's only neighbor is 5, so the min label 3 reaches 8
    // only THROUGH 5 on the second round — exercises the loop, not just the
    // first join. {10,11} is a plain pair; 20 is an edgeless singleton.
    val d = docs(
      3L -> "a", 5L -> "b", 8L -> "c",
      10L -> "d", 11L -> "e", 20L -> "f")
    val pairs = Seq((3L, 5L), (5L, 8L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.clustersFromPairs(d, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (3L, 3L, 3L), (5L, 3L, 3L), (8L, 3L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L),
      (20L, 20L, 1L)))
  }

  test("multi-MB document shingles stay bounded by the token cap") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // ~4 MB of text / ~600k tokens: uncapped shingling would materialize a
    // ~600k-element array row; the cap bounds it at MaxShingleTokens - 2
    val mega = (1 to 600000).map(i => s"w${i % 50000}").mkString(" ")
    val d = Seq((1L, mega), (2L, mega.take(100))).toDF("doc_id", "text")
    val sizes = d
      .select(col("doc_id"), size(TextFunctions.shingles(col("text"), 3)).as("n_sh"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sizes(1L) <= TextFunctions.MaxShingleTokens - 2)
    assert(sizes(1L) > 0 && sizes(2L) > 0)
    // the capped shingle set still feeds the signature pipeline end to end
    val sigs = Dedup.minhashSignatures(d)
    assert(sigs.count() === 2)
  }

  test("diameter > maxIter falls back to star contraction and still converges") {
    import spark.implicits._
    // a 50-node path has diameter 49: min-label propagation cannot close it
    // within maxIter=20 rounds, so clustersFromPairs must auto-select the
    // O(log n)-round large-star/small-star contraction — which labels the
    // whole chain with the component min in ~6 rounds
    val ids = (1L to 50L)
    val d = docs(ids.map(i => i -> s"t$i"): _*)
    val pairs = ids.sliding(2).map(w => (w(0), w(1))).toSeq.toDF("doc_a", "doc_b")
    val got = Dedup.clustersFromPairs(d, pairs, maxIter = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === ids.map(i => (i, 1L, 50L)).toSet)
    // same pairs but maxIter past the diameter: propagation path, same answer
    val viaPropagation = Dedup.clustersFromPairs(d, pairs, maxIter = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaPropagation === got)
  }

  test("nearDupClusters equals union-find over the pair graph (driver data)") {
    val d = graft.Tables.documents(spark, sf("sf0.001"))
    val pairs = Dedup.nearDuplicatePairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // reference union-find on the collected (tiny) pair list
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = Dedup.nearDupClusters(d)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allIds = d.select("doc_id").collect().map(_.getLong(0))
    assert(got.keySet === allIds.toSet) // every doc labeled exactly once
    allIds.foreach(id => assert(got(id) === find(id)))
    assert(pairs.nonEmpty) // planted near-dups make this non-vacuous
  }

  test("simhash byte-banding equals brute force for hamming <= 3 (driver data)") {
    val d = graft.Tables.documents(spark, sf("sf0.001"))
    val banded = Dedup.simhashNearDupPairs(d, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sigs = Dedup.simhashSignatures(d)
    val brute = sigs.as("a")
      .join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("dist"))
      .where(col("dist") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === brute)
    assert(brute.nonEmpty) // the planted near-dups make this non-vacuous
  }

  test("incrementalNearDups: only shard-vs-corpus pairs, never corpus self-pairs") {
    import spark.implicits._
    val long = (1 to 30).map(i => s"token$i").mkString(" ")
    val other = (1 to 30).map(i => s"word$i").mkString(" ")
    // doc ids 0..9 -> split = floor(10*4/5) = 8: shard = {8, 9}
    val docs = Seq(
      (0L, long + " corpus one"),
      (1L, long + " corpus one"), // near-dup INSIDE the corpus: must NOT emit
      (5L, other + " corpus five"), // disjoint vocabulary: matches nothing
      (8L, long + " corpus one"), // shard near-dup of 0 AND 1: must emit both
      (9L, "tiny unrelated text here completely different words")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDups(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 8L), (1L, 8L)),
      s"got $got — corpus-internal pair (0,1) must be absent, shard doc 9 unmatched")
    // ids 0,1 -> split = floor(2*4/5)=1: shard = {1}; pair (0,1) crosses it
    val crossing = Dedup.incrementalNearDups(docs.where(col("doc_id") <= 1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(crossing === Set((0L, 1L)))
  }

  test("signature-table operators emit exactly what the from-text operators emit") {
    // the persisted-store contract: a doc's signature/shingles are pure
    // functions of its text, so probing the stored table must reproduce
    // the from-text pipelines bit for bit (shared oracles rely on this)
    val documents = graft.Tables.documents(spark, sf("sf0.001"))
    val tbl = Dedup.shingleSignatureTable(documents).localCheckpoint()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(pairSet(Dedup.nearDuplicatePairsFromTable(tbl)) ===
      pairSet(Dedup.nearDuplicatePairs(documents)))
    assert(pairSet(Dedup.incrementalNearDupsFromTable(tbl)) ===
      pairSet(Dedup.incrementalNearDups(documents)))
    val sigT = tbl.drop("sh").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val sigD = Dedup.minhashSignatures(documents).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(sigT === sigD)
  }

  /** Brute-force twin of [[Dedup.duplicatedNgramSpans]]: literal k-gram
    * strings, hash-map counting, linear interval merge.
    */
  private def bruteSpans(
      rows: Seq[(Long, String)], k: Int): Set[(Long, Long, Long, Long)] = {
    val grams = rows.flatMap { case (id, text) =>
      val tk = text.split(" ", -1)
      (0 to tk.length - k).map(i => (id, i.toLong, tk.slice(i, i + k).toSeq))
    }
    val dup = grams.groupBy(_._3).filter(_._2.size >= 2).keySet
    grams.filter(g => dup(g._3))
      .groupBy(_._1).toSeq
      .flatMap { case (id, ss) =>
        val sorted = ss.map(_._2).sorted
        val merged = sorted.foldLeft(List.empty[(Long, Long)]) {
          case ((s, e) :: rest, st) if st <= e => (s, math.max(e, st + k)) :: rest
          case (acc, st)                       => (st, st + k) :: acc
        }
        merged.map { case (s, e) => (id, s, e, e - s) }
      }.toSet
  }

  test("ingestDupRate: bands conserve the shard; n_dup = distinct probed shard docs") {
    val documents = graft.Tables.documents(spark, sf("sf0.001"))
    val tbl = Dedup.shingleSignatureTable(documents).localCheckpoint()
    val split = Dedup.ingestSplitOf(documents).get
    val got = Dedup.ingestDupRateFromTable(tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val shardCount = documents.where(col("doc_id") >= split).count()
    assert(got.map(_._2).sum === shardCount)
    val dupDocs = Dedup.incrementalNearDupsFromTable(tbl)
      .select("shard_doc").distinct().collect().map(_.getLong(0)).toSet
    assert(got.map(_._3).sum === dupDocs.size.toLong)
    got.foreach { case (band, arrived, dup, rate) =>
      assert(band >= split / Dedup.IngestBand)
      assert(dup <= arrived)
      assert(rate === dup * 1000 / arrived)
    }
    assert(got.map(_._3).sum > 0, "driver shard should contain known content")
  }

  test("substring dedup marks exactly the brute-force duplicated-window spans") {
    val shared = "the quick brown fox jumps over the lazy dog today"     // 10 tokens
    val d = docs(
      1L -> s"intro words here $shared trailing tail bits",
      2L -> s"$shared completely different ending text follows now",
      3L -> "nothing in this document repeats anywhere at all clearly",
      // intra-doc repeat: the same 8-token run twice inside ONE doc
      4L -> s"pad $shared mid filler pad2 $shared closing")
    val got = Dedup.duplicatedNgramSpans(d, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = bruteSpans(
      Seq(1L -> s"intro words here $shared trailing tail bits",
        2L -> s"$shared completely different ending text follows now",
        3L -> "nothing in this document repeats anywhere at all clearly",
        4L -> s"pad $shared mid filler pad2 $shared closing"), 8)
    assert(got === want)
    // sanity on the shape itself: doc 3 untouched; docs 1/2/4 each carry
    // MERGED maximal spans (the 10-token shared run = 3 overlapping
    // 8-windows -> ONE span of >= 10 tokens), never per-window fragments
    assert(!got.exists(_._1 == 3L))
    assert(got.count(_._1 == 1L) === 1 && got.count(_._1 == 4L) === 2)
    assert(got.filter(_._1 == 1L).head._4 >= 10)
  }

  test("substring dedup == brute force on the sf0.001 corpus") {
    val documents = graft.Tables.documents(spark, sf("sf0.001"))
    val rows = documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = Dedup.duplicatedNgramSpans(documents, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === bruteSpans(rows, 8))
    assert(got.nonEmpty) // the sf corpora plant near-dups: spans must exist
  }

  /** Char-level brute twin of [[Dedup.duplicatedCharSpans]] — literal
    * 50-char substrings, hash-map counting, linear merge.
    */
  private def bruteCharSpans(
      rows: Seq[(Long, String)], k: Int): Set[(Long, Long, Long, Long)] = {
    val grams = rows.flatMap { case (id, text) =>
      (0 to text.length - k).map(i => (id, i.toLong, text.substring(i, i + k)))
    }
    val dup = grams.groupBy(_._3).filter(_._2.size >= 2).keySet
    grams.filter(g => dup(g._3))
      .groupBy(_._1).toSeq
      .flatMap { case (id, ss) =>
        val sorted = ss.map(_._2).sorted
        val merged = sorted.foldLeft(List.empty[(Long, Long)]) {
          case ((s, e) :: rest, st) if st <= e => (s, math.max(e, st + k)) :: rest
          case (acc, st)                       => (st, st + k) :: acc
        }
        merged.map { case (s, e) => (id, s, e, e - s) }
      }.toSet
  }

  test("duplicatedCharSpans == brute-force 50-char windows on the sf0.001 corpus") {
    val documents = graft.Tables.documents(spark, sf("sf0.001"))
    val rows = documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val got = Dedup.duplicatedCharSpans(documents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === bruteCharSpans(rows, Dedup.CharSpanLen))
    assert(got.nonEmpty)
  }

  test("substringExactnessGap: planted disagreements in both directions") {
    val longTok = "x" * 30 // two of these = 61 shared chars in only 2 tokens
    val exactOnly = s"$longTok $longTok"
    val windowOnly = "a b c d e f g h" // 8 shared tokens, only 15 chars
    val d = docs(
      1L -> s"unique lead $exactOnly unique tail one",
      2L -> s"other start $exactOnly different finish two",
      3L -> s"$windowOnly aunique afiller aending",
      4L -> s"$windowOnly bunique bfiller bending",
      5L -> "totally unrelated content with no repeats at all")
    val got = Dedup.substringExactnessGap(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // docs 1/2: a >=50-char duplicated run in <8 tokens — EXACT-ONLY
    Seq(1L, 2L).foreach { id =>
      val (ex, win, uni, onlyEx, onlyWin) = got(id)
      assert(ex >= Dedup.CharSpanLen.toLong, s"doc $id exact_chars")
      assert(win === 0L, s"doc $id window must miss the long-token run")
      assert(onlyEx === ex && onlyWin === 0L && uni === ex, s"doc $id gap")
    }
    // docs 3/4: an 8-token duplicated run under 50 chars — WINDOW-ONLY
    Seq(3L, 4L).foreach { id =>
      val (ex, win, uni, onlyEx, onlyWin) = got(id)
      assert(win > 0L, s"doc $id window_chars")
      assert(ex === 0L, s"doc $id exact must skip the sub-50-char run")
      assert(onlyWin === win && onlyEx === 0L && uni === win, s"doc $id gap")
    }
    // doc 5 has no coverage at all and emits nothing
    assert(!got.contains(5L))
  }

  test("benchmarkContamination: verbatim member self-flags, near-copy flags, idiom does not") {
    def h60(seed: Int, x: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$x".getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    // ids the registration's content-hash draw puts in the eval set
    val evalIds = (1L to 2000L)
      .filter(i => h60(Dedup.EvalSampleSeed, i.toString) % Dedup.EvalSampleMod == 0)
    val plainIds = (1L to 2000L).filterNot(evalIds.contains)
    val ev = evalIds.head // the benchmark doc, present verbatim in corpus
    val Seq(nearId, idiomId, cleanId, otherEv) =
      plainIds.take(3) :+ evalIds(1)
    val bench = "what is the capital of france paris is the answer here"
    val d = docs(
      ev -> bench,                                            // the member itself
      nearId -> s"$bench plus some extra trailing context",   // superset copy
      // exactly ONE shared 8-window (the first 8 tokens), then diverges:
      idiomId -> "what is the capital of france paris is maybe lyon perhaps",
      cleanId -> "completely unrelated text about weather patterns in the north",
      otherEv -> "another benchmark question entirely about chemistry topics from the second set")
    val got = Dedup.benchmarkContamination(d, Dedup.evalSample(d)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the verbatim member flags itself with all its windows
    assert(got((ev, ev)) === 4L) // 11 tokens -> 4 distinct 8-windows
    // the superset near-copy shares all 4 of the member's windows
    assert(got((nearId, ev)) === 4L)
    // one shared window is below the >=2 threshold: the idiom doc is clean
    assert(!got.contains((idiomId, ev)))
    assert(!got.keys.exists(_._1 == cleanId))
    // the other eval member self-flags too, against itself only
    assert(got.keys.filter(_._2 == otherEv).map(_._1).toSet === Set(otherEv))
    // the linear verdict form agrees with the pair listing on the fixture
    val v = Dedup.contaminationVerdicts(d, Dedup.evalSample(d)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(v.keySet === got.keys.map(_._1).toSet)
    assert(v(ev) === ((1L, 4L, ev)))
    assert(v(nearId) === ((1L, 4L, ev)))
    // streaming twin answers row for row on the real corpus
    val batch = Dedup.benchmarkContamination(
      graft.Tables.documents(spark, sf("sf0.001")),
      Dedup.evalSample(graft.Tables.documents(spark, sf("sf0.001")))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = graft.streaming.DocumentStreams
      .benchmarkContaminationToBatch(spark, sf("sf0.001")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty, "the corpus's planted dups must contaminate the eval draw")
  }

  test("lshThresholdCurve: closed-form S-curve columns + planted pair mass in the right buckets") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val nearDup = base.replace("delta", "DELTA-EDIT")
    val unrelated = "one two three four five six seven eight nine ten " * 5
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated, 4L -> base)
    val tbl = Dedup.shingleSignatureTable(d)
    val got = Dedup.lshThresholdCurve(tbl).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap

    // the grid is total: every 50-milli bucket 0..1000 present
    assert(got.keySet === (0L to 1000L by 50L).toSet)

    // closed-form reference: p_band = j^r, p_detect = 1 - (1-p_band)^b as
    // the same stepwise integer folds
    got.foreach { case (lo, (jMid, pBand, pDetect, _)) =>
      assert(jMid === (if (lo == 1000L) 1000L else lo + 25L))
      var pb = 1000L
      (1 to Dedup.RowsPerBand).foreach(_ => pb = pb * jMid / 1000L)
      assert(pBand === pb, s"bucket $lo")
      var miss = 1000L
      (1 to Dedup.Bands).foreach(_ => miss = miss * (1000L - pb) / 1000L)
      assert(pDetect === 1000L - miss, s"bucket $lo")
    }
    // monotone S-curve
    (0L to 950L by 50L).foreach(lo =>
      assert(got(lo)._3 <= got(lo + 50L)._3, s"not monotone at $lo"))

    // planted mass: the exact-dup pair (1,4) sits in bucket 1000; the two
    // near-dup pairs (1,2)/(2,4) share a high bucket; nothing below 500
    // (sub-threshold buckets show 0 observed by construction), and the
    // bucket totals conserve the miner's pair count
    assert(got(1000L)._4 === 1L)
    assert((500L to 950L by 50L).map(got(_)._4).sum === 2L)
    (0L until 500L by 50L).foreach(lo => assert(got(lo)._4 === 0L))
    val minerPairs = Dedup.nearDuplicatePairsFromTable(tbl).count()
    assert(got.values.map(_._4).sum === minerPairs)
  }

  /** Brute-force [[Dedup.lineDedup]]: (doc_id -> (n_lines, n_dropped,
    * n_tokens_dropped, kept_md5)).
    */
  private def bruteLineDedup(
      rows: Seq[(Long, String)], ll: Int, minOcc: Int): Map[Long, (Long, Long, Long, String)] = {
    def linesOf(text: String): Seq[String] =
      text.split(" ", -1).toSeq.grouped(ll).map(_.mkString(" ")).toSeq
    val freq = rows.flatMap(r => linesOf(r._2)).groupBy(identity).view.mapValues(_.size)
    rows.map { case (id, text) =>
      val ls = linesOf(text)
      val (dropped, kept) = ls.partition(l => freq(l) >= minOcc)
      val keptMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
      id -> ((ls.size.toLong, dropped.size.toLong,
        dropped.map(l => l.split(" ", -1).length.toLong).sum, keptMd5))
    }.toMap
  }

  test("lineDedup excises planted boilerplate lines, leaves unique docs intact") {
    // an 8-token banner shared VERBATIM and window-aligned (prefix) by
    // three docs whose remaining text is distinct; doc 4 shares nothing
    val banner = "accept all cookies to continue reading this site"
    val d = docs(
      1L -> s"$banner alpha beta gamma delta epsilon zeta eta theta",
      2L -> s"$banner one two three four five six seven eight",
      3L -> s"$banner red orange yellow green blue indigo violet ultra",
      4L -> "nothing here repeats anywhere in this corpus at all today ok")
    val got = Dedup.lineDedup(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    val want = bruteLineDedup(
      Seq(1L -> s"$banner alpha beta gamma delta epsilon zeta eta theta",
        2L -> s"$banner one two three four five six seven eight",
        3L -> s"$banner red orange yellow green blue indigo violet ultra",
        4L -> "nothing here repeats anywhere in this corpus at all today ok"), 8, 2)
    assert(got === want)
    // shape sanity: the banner line dropped from 1-3 (8 tokens each),
    // doc 4 untouched with its full text's hash
    Seq(1L, 2L, 3L).foreach { id => assert(got(id)._2 === 1L && got(id)._3 === 8L) }
    assert(got(4L)._2 === 0L)
  }

  test("lineDedup conserves lines/tokens and handles the all-dropped document") {
    // two IDENTICAL short docs: their single line is corpus-frequent, so
    // both drop everything -> kept_md5 = md5("")
    val d = docs(
      1L -> "exactly the same short text",
      2L -> "exactly the same short text",
      3L -> "a unique doc with some more words than eight so two lines")
    val got = Dedup.lineDedup(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    val emptyMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.empty[Byte]).map("%02x".format(_)).mkString
    assert(got(1L) === ((1L, 1L, 5L, emptyMd5)))
    assert(got(2L) === ((1L, 1L, 5L, emptyMd5)))
    // conservation on the untouched doc: 12 tokens -> 2 lines, 0 dropped
    assert(got(3L)._1 === 2L && got(3L)._2 === 0L && got(3L)._3 === 0L)
  }

  test("incrementalLineDedup: corpus-frozen index, shard-internal repeats wait") {
    // ids 0..7 -> split = 8*4/5 = 6: corpus = 0..5, shard = 6..7
    val banner = "accept all cookies to continue reading this site"
    val fresh = "completely novel shard only content never seen before"
    val d = docs(
      0L -> s"$banner alpha beta gamma delta epsilon zeta eta theta",
      1L -> "corpus only words that repeat nowhere else at all here",
      2L -> "more unique corpus filler text so the split lands right",
      3L -> "third corpus document with its own words and nothing shared",
      4L -> "fourth corpus document again fully distinct from the others",
      5L -> "fifth corpus document also unique in every token window",
      // shard: doc 6 re-ships the corpus banner (freq 1 in corpus >=
      // minOcc-1 -> excised) AND a line repeated only WITHIN the shard
      6L -> s"$banner $fresh",
      7L -> s"$fresh and some trailing words to close the shard document")
    val got = Dedup.incrementalLineDedup(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // shard docs only — the corpus is the index, never re-reported
    assert(got.keySet === Set(6L, 7L))
    // doc 6: the banner line (8 toks, corpus-seen) drops; the fresh line
    // appears in BOTH shard docs but nowhere in the corpus — it must
    // SURVIVE (shard-internal repeats wait for the next full pass)
    assert(got(6L) === ((2L, 1L, 8L)))
    assert(got(7L)._2 === 0L)
    // composition: probing the shard in two singleton batches against the
    // same frozen index gives the same union (stateless across batches)
    val idx = Dedup.corpusLineIndex(
      Dedup.linesOf(d.where(col("doc_id") < 6L), Dedup.LineLen),
      Dedup.LineMinOccurrences)
    val oneByOne = Seq(6L, 7L).flatMap { id =>
      Dedup.excisionReport(
        Dedup.linesOf(d.where(col("doc_id") === id), Dedup.LineLen), idx)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    }.toMap
    assert(oneByOne === got)
  }

  test("lineDedup == brute force on the sf0.001 corpus, partition-invariant") {
    val documents = graft.Tables.documents(spark, sf("sf0.001"))
    val rows = documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = bruteLineDedup(rows, Dedup.LineLen, Dedup.LineMinOccurrences)
    val got = Dedup.lineDedup(documents).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got === want)
    // the planted near-dup families must actually trip the excision
    assert(got.values.exists(_._2 > 0))
    val rep = Dedup.lineDedup(documents.repartition(7)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(rep === got)
  }

  /** Brute-force [[Dedup.repetitionExcise]]: keep-first within each doc,
    * (doc_id -> (n_lines, n_dropped, n_tokens_dropped, kept_md5)).
    */
  private def bruteRepetition(
      rows: Seq[(Long, String)], ll: Int): Map[Long, (Long, Long, Long, String)] = {
    def linesOf(text: String): Seq[String] =
      text.split(" ", -1).toSeq.grouped(ll).map(_.mkString(" ")).toSeq
    rows.map { case (id, text) =>
      val ls = linesOf(text)
      val seen = scala.collection.mutable.Set.empty[String]
      val drop = ls.map(l => !seen.add(l)) // true = a within-doc repeat
      val kept = ls.zip(drop).collect { case (l, false) => l }
      val dropped = ls.zip(drop).collect { case (l, true) => l }
      val keptMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
      id -> ((ls.size.toLong, dropped.size.toLong,
        dropped.map(_.split(" ", -1).length.toLong).sum, keptMd5))
    }.toMap
  }

  test("repetitionExcise drops within-doc repeats only, keeps the first occurrence") {
    val banner = "accept all cookies to continue reading this site" // 8 toks
    val mid = "alpha beta gamma delta epsilon zeta eta theta"       // 8 toks
    val rows = Seq(
      // the banner stutters inside doc 1 -> the SECOND copy drops, the
      // first survives in position order (banner then mid)
      1L -> s"$banner $mid $banner",
      // doc 2 shares the banner with doc 1 but never repeats it
      // internally -> untouched (cross-document sharing is lineDedup's
      // verdict, not this operator's)
      2L -> s"$banner one two three four five six seven eight",
      // a triple stutter: two of three copies drop
      3L -> s"$mid $mid $mid")
    val d = docs(rows: _*)
    val got = Dedup.repetitionExcise(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got === bruteRepetition(rows, Dedup.LineLen))
    val md5 = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) === ((3L, 1L, 8L, md5(s"$banner $mid"))))
    assert(got(2L) === ((2L, 0L, 0L, md5(s"$banner one two three four five six seven eight"))))
    assert(got(3L) === ((3L, 2L, 16L, md5(mid))))
  }

  /** Re-derive [[Dedup.winnowOverlapPairs]] in Scala from the fingerprint
    * frame (itself brute-verified in TextAnalysisSpec): cap, pair, count.
    */
  private def bruteWinnowOverlap(
      d: org.apache.spark.sql.DataFrame, cap: Int, minShared: Int): Set[(Long, Long, Long, Long, Long, Long)] = {
    val fps = TextAnalysis.winnowFingerprints(d)
      .select("doc_id", "fp_hash").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val hot = fps.groupBy(_._2).filter(_._2.size > cap).keySet
    val byDoc = fps.filterNot(t => hot(t._2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ids = byDoc.keys.toSeq.sorted
    (for {
      a <- ids; b <- ids if a < b
      shared = (byDoc(a) intersect byDoc(b)).size.toLong if shared >= minShared
    } yield (a, b, shared, byDoc(a).size.toLong, byDoc(b).size.toLong,
      shared * 1000L / math.min(byDoc(a).size, byDoc(b).size))).toSet
  }

  test("winnowOverlapPairs finds planted shared passages; capped boilerplate never pairs") {
    val shared =
      "the quick brown fox jumps over that lazy dog and keeps running onward"
    val boiler =
      "this site uses cookies to improve your experience please accept all terms"
    val rows = Seq(
      1L -> s"alpha beta gamma delta $shared",
      2L -> s"$shared epsilon zeta eta theta") ++
      // 20 identical boilerplate docs: > cap=16 docs per fingerprint, so
      // every one of their fingerprints leaves before the pair join
      (10L to 29L).map(i => i -> boiler)
    val d = docs(rows: _*)
    val got = Dedup.winnowOverlapPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === bruteWinnowOverlap(d, Dedup.WinnowBucketCap, Dedup.WinnowMinShared))
    // the planted pair survives (a 13-token shared run guarantees >= 2
    // distinct selected fingerprints: one shared min can cover at most w
    // consecutive windows of the 8 fully-shared ones)
    assert(got.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 2L))
    // no boilerplate doc appears in any pair
    assert(!got.exists(p => p._1 >= 10L || p._2 >= 10L))
  }

  test("winnowOverlapPairs == scala re-derivation on the sf0.001 corpus") {
    val d = graft.Tables.documents(spark, sf("sf0.001"))
    val got = Dedup.winnowOverlapPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === bruteWinnowOverlap(d, Dedup.WinnowBucketCap, Dedup.WinnowMinShared))
    // the corpus's planted near-dup families must surface as overlaps
    assert(got.nonEmpty)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The house 60-bit seeded hash, reimplemented for brute checks. */
  private def h60(seed: Int, s: String): Long =
    java.lang.Long.parseLong(md5Hex(s"$seed:$s").substring(0, 15), 16)

  test("softDedup: uniques always kept, group verdicts are the seeded hash residues") {
    val d = docs(
      1L -> "same text here today", 2L -> "same text here today",
      3L -> "same  TEXT here today", // normalized-equal -> same group
      4L -> "unique content number one", 5L -> "unique content number two")
    val got = Dedup.softDedup(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // singleton groups: h % 1 == 0 always -> unique docs are NEVER dropped
    assert(got(4L) === ((1L, true)) && got(5L) === ((1L, true)))
    Seq(1L, 2L, 3L).foreach { id =>
      assert(got(id) === ((3L, h60(Dedup.SoftDedupSeed, id.toString) % 3L == 0L)))
    }
    val again = Dedup.softDedup(d.repartition(7)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(again === got)
  }

  test("softDedup == brute force on the sf0.001 corpus; expectation holds per group") {
    val documents = graft.Tables.documents(spark, sf("sf0.001"))
    val rows = documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val groups = rows.groupBy(r => norm(r._2))
    val want = rows.map { case (id, t) =>
      val n = groups(norm(t)).size.toLong
      id -> ((n, h60(Dedup.SoftDedupSeed, id.toString) % n == 0L))
    }.toMap
    val got = Dedup.softDedup(documents).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === want)
    // sf0.001 happens to have no exact-dup groups (its planted families
    // are NEAR-dups), so every doc is a singleton and must survive; the
    // planted 3-copy test above pins the grouped verdicts
    assert(got.values.forall(v => v._1 >= 1L && (v._1 > 1L || v._2)))
  }

  test("incrementalWinnowOverlap: shard-vs-corpus only, corpus-hot fingerprints excluded") {
    val p = "aa bb cc dd ee ff gg hh ii jj"           // shared passage
    val b = "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10"          // corpus-hot boilerplate
    val q = "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"          // shard-internal passage
    // ids 0..9 -> split 8: corpus 0..7, shard 8..9
    val d = docs(Seq(
      0L -> s"$p n1 n2 n3 n4",
      1L -> s"$b o1 o2 o3") ++
      (2L to 7L).map(i => i -> s"$b p$i q$i r$i") ++ Seq(
      8L -> s"$p $q zz1",
      9L -> s"$b $q yy1"): _*)
    val got = Dedup.incrementalWinnowOverlap(d, cap = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 8 shares the passage with corpus doc 0 -> reported
    assert(got.exists(t => t._1 == 8L && t._2 == 0L && t._3 >= 2L))
    // doc 9 shares ONLY boilerplate with the corpus (hot: 7 docs > cap=3)
    // -> no pair; docs 8 and 9 share q but shard-internal pairs are out
    // of contract
    assert(got.forall(t => t._1 == 8L && t._2 == 0L))
  }

  test("incrementalWinnowOverlap == scala re-derivation on the sf0.001 corpus") {
    val d = graft.Tables.documents(spark, sf("sf0.001"))
    val fps = TextAnalysis.winnowFingerprints(d)
      .select("doc_id", "fp_hash").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val maxId = d.agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0)
    val sp = (maxId + 1) * 4 / 5
    val corpus = fps.filter(_._1 < sp)
    val hot = corpus.groupBy(_._2)
      .filter(_._2.size > Dedup.WinnowBucketCap).keySet
    val idx = corpus.filterNot(t => hot(t._2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val shard = fps.filter(_._1 >= sp).filterNot(t => hot(t._2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = (for {
      (sid, sfp) <- shard.toSeq; (cid, cfp) <- idx.toSeq
      shared = (sfp intersect cfp).size.toLong
      if shared >= Dedup.WinnowMinShared
    } yield (sid, cid, shared, sfp.size.toLong, cfp.size.toLong,
      shared * 1000L / math.min(sfp.size, cfp.size))).toSet
    val got = Dedup.incrementalWinnowOverlap(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got === want)
  }

  test("repetitionExcise == brute force on the sf0.001 corpus, partition-invariant") {
    val documents = graft.Tables.documents(spark, sf("sf0.001"))
    val rows = documents.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = bruteRepetition(rows, Dedup.LineLen)
    val got = Dedup.repetitionExcise(documents).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got === want)
    val rep = Dedup.repetitionExcise(documents.repartition(7)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(rep === got)
  }

  test("prefixNearDupPairs equals the brute-force jaccard>=0.5 pair set on the driver corpus") {
    val d = graft.Tables.documents(spark, sf("sf0.001"))
    val tbl = Dedup.withContentGroups(Dedup.shingleSignatureTable(d))
    val got = Dedup.prefixNearDupPairs(tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val sets = Dedup.shingled(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val want = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a < b && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size; uni = (sa | sb).size
      if 2 * inter >= uni // jaccard >= 0.5, exact integer form
    } yield (a, b, inter, uni)).toSet
    assert(got === want)
    // partition-invariant (the df order is a pure function of content)
    val again = Dedup.prefixNearDupPairs(
      Dedup.withContentGroups(Dedup.shingleSignatureTable(d.repartition(7))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(again === got)
  }

  test("prefixNearDupPairs: recall 1 where the capped banded miner drops; duplicates expand") {
    // five-doc template family: 40 shared tokens + a unique suffix each —
    // distinct texts sharing 38 of 39 shingles (J = 38/40 = 0.95)
    val base = (1 to 40).map(i => s"t$i").mkString(" ")
    val fam = (1L to 5L).map(i => i -> s"$base extra$i")
    val d2 = docs(fam: _*)
    val tbl2 = Dedup.withContentGroups(Dedup.shingleSignatureTable(d2))
    val allPairs = (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)).toSet
    val exact = Dedup.prefixNearDupPairs(tbl2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === allPairs)
    // cap 1 drops every >=2-doc bucket: the banded miner finds NOTHING
    // here, the prefix miner's completeness is untouched (no caps at all)
    val capped = Dedup.nearDuplicatePairsFromTable(tbl2, maxBucketSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.isEmpty)
    // verbatim duplicates collapse to reps and expand back: doc 6 copies
    // doc 1's text, so (1,6) is a jaccard-1 pair and 6 pairs like 1 does
    val d3 = docs((fam :+ (6L -> s"$base extra1")): _*)
    val tbl3 = Dedup.withContentGroups(Dedup.shingleSignatureTable(d3))
    val got3 = Dedup.prefixNearDupPairs(tbl3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    assert(got3.contains((1L, 6L, 1.0)))
    assert(got3.map(p => (p._1, p._2)) ===
      (allPairs ++ Set((1L, 6L)) ++ (2L to 5L).map(b => (b, 6L)).toSet))
  }

  test("ExercisedPrefixCap genuinely fires on the driver corpus (r15)") {
    // the REGISTERED q_neardup_exact_capped cap must sit below the
    // corpus's max prefix-group mass — r14 registered the production cap,
    // which this corpus never reaches, so the valve went untested
    val d = graft.Tables.documents(spark, sf("sf0.001"))
    val tbl = Dedup.withContentGroups(Dedup.shingleSignatureTable(d))
    val rowsOf = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    val uncapped = rowsOf(Dedup.prefixNearDupPairs(tbl))
    val capped = rowsOf(Dedup.prefixNearDupPairs(
      tbl, maxPrefixGroup = Dedup.ExercisedPrefixCap))
    assert(capped.keySet.subsetOf(uncapped.keySet), "the cap can only DROP pairs")
    assert(capped.size < uncapped.size,
      s"cap ${Dedup.ExercisedPrefixCap} must fire on this corpus " +
        s"(${capped.size} vs ${uncapped.size} pairs) — if the corpus " +
        "changed, re-measure and lower ExercisedPrefixCap")
    // identical-content pairs never join, so the cap cannot touch them
    // (none exist at sf0.001 — the planted-flood test below pins the
    // survival property; this guards against a corpus regeneration)
    val identicals = uncapped.collect { case (k, j) if j == 1.0 => k }.toSet
    assert(identicals.subsetOf(capped.keySet),
      "jaccard-1 pairs must survive any cap")
  }

  test("prefixNearDupPairs cap: no-op on the driver corpus, drops a planted flood") {
    // at the production cap the gate must be invisible on real data:
    // bit-identical pair set on the sf0.001 corpus
    val d = graft.Tables.documents(spark, sf("sf0.001"))
    val tbl = Dedup.withContentGroups(Dedup.shingleSignatureTable(d))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))
    val uncapped = Dedup.prefixNearDupPairs(tbl).collect().map(key).toSet
    val prodCap = Dedup.prefixNearDupPairs(
      tbl, maxPrefixGroup = Dedup.DefaultMaxBucketSize).collect().map(key).toSet
    assert(prodCap === uncapped)

    // planted corpus: a 6-doc template flood (every prefix shingle it
    // shares has doc-weighted group size 6), one honest near-dup pair in
    // a disjoint token namespace (group sizes 2), one identical pair
    val base = (1 to 40).map(i => s"t$i").mkString(" ")
    val base2 = (1 to 40).map(i => s"u$i").mkString(" ")
    val rows =
      (1L to 6L).map(i => i -> s"$base extra$i") ++ Seq(
        10L -> s"$base2 tail10",
        11L -> s"$base2 tail11",
        20L -> "exactly the same verbatim text across both copies here now",
        21L -> "exactly the same verbatim text across both copies here now")
    val tblF = Dedup.withContentGroups(Dedup.shingleSignatureTable(docs(rows: _*)))
    val capped = Dedup.prefixNearDupPairs(tblF, maxPrefixGroup = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the flood's 15 intra-family pairs are gone; the honest pair and
    // the identical-content pair (which never joins, so no cap to
    // survive) both remain
    assert(capped === Set((10L, 11L), (20L, 21L)))
    // uncapped ground truth on the same corpus keeps the family
    val full = Dedup.prefixNearDupPairs(tblF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fam = (for { a <- 1L to 6L; b <- (a + 1) to 6L } yield (a, b)).toSet
    assert(full === fam ++ Set((10L, 11L), (20L, 21L)))
  }

  /** sf0.001's (doc_id, text) unioned with an id-offset copy of itself:
    * every content appears twice, so every keyed group has members > 1. */
  private def duplicatedDriverDocs() = {
    val d = graft.Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
    val off = d.agg(max("doc_id")).head().getLong(0) + 1L
    d.union(d.select((col("doc_id") + off).as("doc_id"), col("text")))
  }

  private def bundleRows(cdx: Dedup.CorpusDedupIndex) = (
    cdx.idx.select("doc_id", "members", "band", "key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3))).toSet,
    cdx.repSh.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toSet,
    cdx.memberMap.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

  test("frozen dedup bundle: same contents as the lazy one, rep/member frames read one keyed frame") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window}
    def groupingNodes(df: org.apache.spark.sql.DataFrame): Seq[LogicalPlan] =
      df.queryExecution.optimizedPlan.collect {
        case a: Aggregate => a
        case w: Window => w
      }
    val plain = graft.Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
    for ((label, d) <- Seq("sf0.001" -> plain, "sf0.001 + copy" -> duplicatedDriverDocs())) {
      val tbl = Dedup.withContentGroups(Dedup.shingleSignatureTable(d)).localCheckpoint()
      val sh = Dedup.shingled(d).localCheckpoint()
      // the store path (group columns present) and the from-text path
      for ((path, build) <- Seq[(String, Boolean => Dedup.CorpusDedupIndex)](
          "table" -> (f => Dedup.corpusBandIndexFromTable(tbl, frozen = f)),
          "shingles" -> (f => Dedup.corpusBandIndex(sh, frozen = f)))) {
        val lazyIdx = build(false)
        val frozen = build(true)
        val want = bundleRows(lazyIdx)
        assert(bundleRows(frozen) === want, s"$label/$path")
        assert(want._1.nonEmpty && want._2.nonEmpty, s"$label/$path")
        if (d ne plain)
          assert(want._2.size < want._3.size, s"$label/$path: copies collapse to reps")
        // the lazy projections re-run the side grouping; the frozen ones
        // are projections of the one frozen keyed frame
        assert(groupingNodes(lazyIdx.memberMap).nonEmpty, s"$label/$path")
        assert(groupingNodes(frozen.repSh).isEmpty, s"$label/$path: repSh")
        assert(groupingNodes(frozen.memberMap).isEmpty, s"$label/$path: memberMap")
      }
    }
  }

  test("sideKeyed is idempotent on a slice keyed by withContentGroups") {
    // the leak-free splits build their probe index straight from the
    // windowed slice; that is exact because keying it again changes nothing
    val tbl = Dedup.shingleSignatureTable(duplicatedDriverDocs()).localCheckpoint()
    val split = Dedup.ingestSplitOf(tbl).get
    val slice = Dedup.withContentGroups(tbl.where(col("doc_id") < split)).localCheckpoint()
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "group_id", "members").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val once = keys(slice)
    assert(keys(Dedup.sideKeyed(slice)) === once)
    assert(once.exists(_._3 > 1) && once.exists(_._3 == 1),
      "the slice holds both duplicated and singleton contents")
    // so the two index builders agree on it
    assert(bundleRows(Dedup.corpusBandIndexFromKeyed(slice)) ===
      bundleRows(Dedup.corpusBandIndexFromTable(slice)))
  }
}
