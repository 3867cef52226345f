package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchStreamsSpec extends SparkSpec {

  test("update-mode node store equals the batch histogram after a multi-batch drain") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Sketches.{QsLMin, QsU, QsMax}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_qsketch_spec")
    val store = tmp.resolve("store").toString
    java.nio.file.Files.createDirectories(tmp.resolve("store"))
    val input = MemoryStream[Double]
    val q = SketchStreams.nodeCounts(input.toDF().toDF("o_totalprice"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.withColumn("batch_id", lit(id)).write.mode("append").parquet(store)
        ()
      }
      .start()
    try {
      input.addData(100.0, 250.75)
      q.processAllAvailable()
      input.addData(100.0) // revisits 100.0's nodes: update must supersede
      q.processAllAvailable()
    } finally q.stop()
    val got = EventStreams.latestPerKey(spark.read.parquet(store), "l", "b").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // batch-side expectation over the full value multiset
    val values = Seq(100.0, 250.75, 100.0)
    val expected = values
      .map(v => math.min(math.round(v * 100), QsMax))
      .flatMap(c => (QsLMin to QsU).map(l => (l, c >> l)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got === expected, s"got $got expected $expected")
    // the store is a log: updated nodes appear once per emitting batch,
    // and merge-on-read collapses them (latest total wins)
    val rawRows = spark.read.parquet(store).count()
    assert(rawRows > got.size.toLong, "no superseded log entries found")
    EventStreams.deleteRecursivelyOnExit(tmp)
  }

  test("update-mode HLL register store equals the batch registers after a multi-batch drain") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_hll_spec")
    val store = tmp.resolve("store").toString
    java.nio.file.Files.createDirectories(tmp.resolve("store"))
    val input = MemoryStream[(String, String)]
    val q = SketchStreams.hllRegisterMins(input.toDF().toDF("lang", "text"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.withColumn("batch_id", lit(id)).write.mode("append").parquet(store)
        ()
      }
      .start()
    try {
      input.addData(("en", "alpha beta gamma"), ("de", "eins zwei"))
      q.processAllAvailable()
      // second batch revisits tokens (min unchanged) and adds new ones
      input.addData(("en", "beta delta epsilon zeta"))
      q.processAllAvailable()
    } finally q.stop()
    val got = EventStreams.latestPerKey(spark.read.parquet(store), "lang", "j").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    // batch-side expectation: the same register arithmetic over the full
    // corpus, via the shared hllRegisterRows helper
    val docs = Seq(
      (1L, "alpha beta gamma", "en"), (2L, "eins zwei", "de"),
      (3L, "beta delta epsilon zeta", "en")).toDF("doc_id", "text", "lang")
    val expected = graft.operators.Sketches
      .hllRegisterRows(graft.operators.Sketches.tokenize(docs))
      .groupBy("lang", "j").agg(min(col("bl")).as("minb"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got === expected, s"got $got expected $expected")
    assert(got.nonEmpty)
    EventStreams.deleteRecursivelyOnExit(tmp)
  }

  test("streaming HLL twin answers equal the batch q_hll_vocab frame exactly") {
    val dir = sf("sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
    val streamed = canon(SketchStreams.hllVocabViaStore(spark, dir))
    val batch = canon(graft.operators.Sketches.hllVocabByLang(
      graft.Tables.documents(spark, dir)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("state is structurally bounded by the node universe, not the stream length") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Sketches.QsB
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Double]
    val q = SketchStreams.nodeCounts(input.toDF().toDF("o_totalprice"))
      .writeStream.format("memory").queryName("qsketch_state")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      val rnd = new scala.util.Random(3)
      input.addData((1 to 2000).map(_ => rnd.nextDouble() * 500000.0): _*)
      q.processAllAvailable()
      val state = q.lastProgress.stateOperators(0).numRowsTotal
      assert(state <= (1L << (QsB + 1)) - 1,
        s"state rows $state exceed the structural node bound")
      assert(state > 0)
    } finally q.stop()
  }
}
