package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: runMain graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cores = cpus, shufflePartitions = cpus, appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // dev affordance: SPARK_GRAFT_ONLY=q1,q2 restricts the dump to named
    // queries (the driver never sets it, so the gate always runs the lot)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // every query that throws is recorded as name<TAB>error in
    // failures.tsv beside oracle_sql.json (empty file = none failed),
    // so the checker's "missing output" has its cause on disk
    val failures = Seq.newBuilder[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += s"$name\t${oneLine(e)}"
      }
      // drop checkpointed blocks so 34 queries' worth don't accumulate
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failed = failures.result()
    Files.writeString(Paths.get(s"$outDir/failures.tsv"),
      failed.map(_ + "\n").mkString)
    println(s"[verify] ${failed.size} queries failed (see $outDir/failures.tsv)")
    spark.stop()
  }

  /** The error's class and message on one tab-free line (a TSV field). */
  private def oneLine(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}".replaceAll("[\t\r\n]+", " ")
}
