package graftbench

import graft.{SparkEntry, Tables}
import graft.operators.{FunnelStore, SignatureStore, WordCount}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** One timed call: a public entry point that returns a frame. `store`
  * steps are the artifact-store writes; the rest are queries. */
final case class Step(name: String, store: Boolean, run: (SparkSession, String) => DataFrame)

/** A closed-loop workload: its steps in registry order (the harness
  * permutes the queries per seed). Every pass reads the same directory, so
  * the artifact stores built during set-up stay warm; store builds are
  * timed by set-up and by the traced run's store probe. */
final case class Workload(name: String, steps: Seq[Step])

object Workloads {
  private lazy val registry = SparkEntry.queries

  private def query(name: String): Step =
    Step(name, store = false, registry.getOrElse(name,
      throw new IllegalArgumentException(s"no registry query named $name")))

  /** The reference's own job over the generated text files, top 5. */
  val wordcountRun: Step =
    Step("wordcount_run", store = false, (s, dir) => WordCount.run(s, Seq(s"$dir/texts"), 5))

  /** Store writes: the first public call on an unseen directory builds.
    * The funnel step drains one row of part sizes, so it reads every
    * stored part whatever the bundle's layout. Both run in the traced
    * run's store probe; curation also reads the signature store as a
    * timed step. */
  val signatureStep: Step =
    Step("store_signature", store = true, (s, dir) => SignatureStore.table(s, dir))
  val storeSteps: Seq[Step] = Seq(
    signatureStep,
    Step("store_funnel", store = true, (s, dir) =>
      FunnelStore.artifacts(s, dir).map { a =>
        frames(a).zipWithIndex
          .map { case (df, i) => df.agg(count(lit(1)).as(s"part$i")) }.reduce(_ crossJoin _)
      }.getOrElse(s.emptyDataFrame)))

  private def frames(p: Product): Seq[DataFrame] = p.productIterator.toSeq.flatMap {
    case ds: Dataset[_] => Seq(ds.toDF())
    case q: Product => frames(q)
    case _ => Nil
  }

  /** The batch curation job on a duplicate-heavy re-crawl, after the
    * signature store write: the curation chain with both near-dup miners
    * (banded LSH and exact), then the ingest reads of the stored artifacts
    * -- the incremental probes against the arriving shard, their stream
    * twins and the trust funnel built on the rep-collapsed LSH index. */
  val curationQueries: Seq[String] = Seq(
    "wordcount_topk", "q_html_extract", "q_lang_id", "q_pii_redacted",
    "q_dedup_exact", "q_dedup_neardup", "q_neardup_exact", "q_decontam", "q_pack_chunks",
    "q_pipeline_retained",
    "q_dedup_incremental", "q_stream_dedup_incremental", "q_ingest_dup_rate",
    "q_leakfree_split_incremental", "q_line_dedup_incremental", "q_stream_line_dedup_incremental",
    "q_trust_funnel_stored", "q_trust_funnel_incremental", "q_stream_trust_funnel")

  /** A fixed cross-section of the non-stream registry, one or two per
    * family, so per-query fixed cost (planning, codegen, guards) dominates. */
  val queryMixQueries: Seq[String] = Seq(
    // relational
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_volume", "q_window_rank",
    // word count / map-reduce, events, text
    "wordcount_topk", "mr_inverted_index", "q_events_sessions", "q_text_stats", "q_bpe_merges",
    // dedup
    "q_dedup_exact", "q_neardup_exact",
    // similarity, graph, sketches
    "q_embed_neardup", "q_pagerank_words", "q_hll_vocab")

  def apply(name: String): Workload = name match {
    case "curation" => Workload(name,
      signatureStep +: wordcountRun +: curationQueries.map(query))
    case "query_mix" => Workload(name, queryMixQueries.map(query))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Documents in a generated input directory (for docs_per_s). */
  def docCount(spark: SparkSession, dir: String): Long = Tables.documents(spark, dir).count()
}
