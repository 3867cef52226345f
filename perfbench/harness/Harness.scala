package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import graft.{LoadMarkers, Sessions, SparkEntry}
import graft.functions.{FixedPointLn, HashFunctions, TextFunctions, VectorExpressions}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JVM side of the benchmark: set up, run closed-loop passes over one
  * workload for a fixed time, dump outputs for the oracle check, and write
  * everything measured as one JSON file. `perfbench/run.py` drives it.
  *
  * Args: --workload W --data DIR --work DIR --out FILE --seed N --seconds S
  *       --trace 0|1 --cores C
  */
object Harness {
  private val opts = mutable.Map.empty[String, String]
  private def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))

  /** Untimed settling passes run after the checked one until this much
    * settling time has passed (at least one): pass times fall by 20-30%
    * over the first 15 s of passes while the JIT converges. A long pass
    * (curation) gets one, a short one (query_mix) four or five. More
    * settling would not fit the benchmark's time budget. */
  val SettleSeconds = 10.0

  private var spark: SparkSession = _
  private var cores = 1
  private val out = new Json.Obj

  private val failures = mutable.LinkedHashMap.empty[String, String]
  private val refs = mutable.LinkedHashMap.empty[String, Either[String, ContentHash.Result]]

  def main(args: Array[String]): Unit = {
    args.grouped(2).foreach {
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }
    cores = opt("cores").toInt
    val wl = Workloads(opt("workload"))
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val base = opt("data")
    val work = Paths.get(opt("work"))
    val seconds = opt("seconds").toDouble

    val jvms = LoadMarkers.jvmCount()
    val cpu0 = LoadMarkers.procCpuSec()
    val steal0 = LoadMarkers.stealTicks()
    val wall0 = System.nanoTime()
    // seeded order: store writes first, then the reads permuted
    val (storeSteps, querySteps) = wl.steps.partition(_.store)
    val order = storeSteps ++ new scala.util.Random(seed).shuffle(querySteps)
    out("order") = order.map(_.name)

    // --- set-up: session start, the checked warm-up pass, then settling
    // passes. The checked pass collects each step's rows through the same
    // executed plan the timed drain runs (so no extra codegen later); their
    // hash is what every later pass must reproduce, and the rows are
    // written out for the DuckDB oracle after the timed passes, so the
    // dump is in neither set-up nor pass time.
    val checked = mutable.ArrayBuffer.empty[(String, StructType, Array[InternalRow])]
    val s0 = System.nanoTime()
    spark = Sessions.local(cores = cores, shufflePartitions = cores, appName = "graft-perfbench")
    out("sessions_start_s") = secs(s0)
    order.foreach { st =>
      spark.sparkContext.setJobDescription(s"warmup:${st.name}")
      refs(st.name) = attempt {
        val df = st.run(spark, base)
        val (h, rows) = ContentHash.collect(df)
        checked += ((st.name, df.schema, rows))
        h
      }
      clearCaches()
    }
    val settle0 = System.nanoTime()
    var k = 0
    while (k == 0 || secs(settle0) < SettleSeconds) {
      runPass(s"settle$k", order, base, None)
      k += 1
    }
    out("settle_passes") = k
    out("setup_s") = secs(s0)
    out("docs") = Workloads.docCount(spark, base)

    // --- timed passes, back to back ----------------------------------
    // at least two, so a run whose first pass outlasts --seconds (curation)
    // still times the same passes; traced runs alternate untraced and
    // traced passes, so the tracing overhead is measured inside one JVM
    val trace = new Trace(s"${wl.name}-$seed")
    val passes = new Json.Arr
    val t0 = System.nanoTime()
    var p = 0
    while (secs(t0) < seconds || p < 2) {
      val on = traced && p % 2 == 1
      val pass = runPass(p.toString, order, base, if (on) Some(trace) else None)
      pass("index") = p
      passes += pass
      p += 1
    }
    out("passes") = passes
    val (classes, compileS) = codegenStats()
    out("codegen") = Json.Obj("classes" -> classes, "compile_s" -> compileS)

    if (traced) probes(trace, base, work)

    val checkOut = work.resolve("check")
    Files.createDirectories(checkOut)
    spark.sparkContext.setJobDescription("check dump")
    checked.foreach { case (name, schema, rows) =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      spark.createDataFrame(java.util.Arrays.asList(rows.map(toRow(_).asInstanceOf[Row]): _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(checkOut.resolve(name).toString)
    }

    refs.foreach { case (n, Left(err)) => failures.getOrElseUpdate(n, s"checked warm-up threw: $err"); case _ => () }
    val oracle = SparkEntry.oracleSql
    val names = order.map(_.name).filter(oracle.contains)
    Files.writeString(checkOut.resolve("oracle_sql.json"),
      Json.render(Json.Obj(names.map(n => n -> (oracle(n): Any)): _*)))
    // queries that share one oracle verbatim are twins: their outputs must agree
    out("twins") = Json.Arr(oracle.toSeq.groupBy(_._2).values
      .map(_.map(_._1).filter(names.contains).sorted).filter(_.size > 1).toSeq
      .sortBy(_.head).map(g => Json.Arr(g: _*)): _*)
    out("failures") = Json.Obj(failures.toSeq.map { case (k, v) => k -> (v: Any) }: _*)

    // --- load evidence (graft.LoadMarkers, as Bench stamps it) ---------
    val wall = secs(wall0)
    val cpu = LoadMarkers.procCpuSec() - cpu0
    val steal1 = LoadMarkers.stealTicks()
    out("load") = Json.Obj(
      "jvms" -> jvms,
      "other_load" -> math.max(0.0, LoadMarkers.loadAvg() - cpu / wall),
      "steal_frac" -> (if (steal0 < 0 || steal1 < 0) -1.0 else (steal1 - steal0) / 100.0 / (wall * cores)))
    out("peak_rss_mb") = peakRssMb()
    out("cores") = cores
    if (traced) out("trace") = traceJson(trace)
    Files.writeString(Paths.get(opt("out")), Json.render(out))
    // Everything the run needs is on disk. Spark's orderly stop takes 2-3 s
    // and would only clean up under --work, which run.py deletes, so the
    // JVM ends here without it.
    Runtime.getRuntime.halt(0)
  }

  /** One pass over `order`: per step, build (the query function returns),
    * plan (traced only: force the executed plan) and exec (the drain,
    * hashed); every output hash must equal the checked one. */
  private def runPass(tag: String, order: Seq[Step], dir: String, trace: Option[Trace]): Json.Obj = {
    trace.foreach(attachListeners)
    val gcP = gcSeconds()
    val passSpan = trace.map(t => t.add(s"run:pass$tag", t.nowUs, Double.NaN, -1)).getOrElse(-1)
    val pw0 = System.nanoTime()
    val steps = new Json.Arr
    order.foreach { st =>
      spark.sparkContext.setJobDescription(s"$tag:${st.name}")
      val rec = new Json.Obj
      rec("name") = st.name
      val q0 = trace.map(_.nowUs).getOrElse(0.0)
      val s0 = System.nanoTime()
      def at(t: Long): Double = q0 + (t - s0) / 1e3
      val qSpan = trace.map(_.add(s"query:${st.name}", q0, Double.NaN, passSpan)).getOrElse(-1)
      val res = attempt(st.run(spark, dir)).flatMap { df =>
        val s1 = System.nanoTime()
        rec("build_s") = (s1 - s0) / 1e9
        trace.foreach(_.add("build", q0, at(s1), qSpan))
        val planned = trace.fold[Either[String, Long]](Right(s1)) { t =>
          attempt {
            df.queryExecution.executedPlan
            val s2 = System.nanoTime()
            rec("plan_s") = (s2 - s1) / 1e9
            t.add("plan", at(s1), at(s2), qSpan)
            val ph = df.queryExecution.tracker.phases
            Seq("analysis", "optimization", "planning").foreach { k =>
              rec(s"phase_$k") = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
            }
            s2
          }
        }
        planned.flatMap { s2 =>
          attempt(ContentHash.drain(df)).map { h =>
            val s3 = System.nanoTime()
            rec("exec_s") = (s3 - s2) / 1e9
            trace.foreach(_.add("exec", at(s2), at(s3), qSpan))
            h
          }
        }
      }
      val s3 = System.nanoTime()
      rec("wall_s") = (s3 - s0) / 1e9
      trace.foreach(_.close(qSpan, at(s3)))
      res match {
        case Left(err) =>
          rec("error") = err
          failures.getOrElseUpdate(st.name, s"threw: $err")
        case Right(h) =>
          rec("rows") = h.rows
          refs.get(st.name) match {
            case Some(Right(ref)) if ref != h =>
              failures.getOrElseUpdate(st.name,
                s"content hash ${h.hash} (${h.rows} rows) differs from the checked output ${ref.hash} (${ref.rows} rows)")
              rec("error") = "hash drift"
            case _ => ()
          }
      }
      steps += rec
      clearCaches()
    }
    val pass = new Json.Obj
    pass("traced") = trace.isDefined
    pass("wall_s") = secs(pw0)
    pass("gc_s") = gcSeconds() - gcP
    pass("steps") = steps
    trace.foreach { t =>
      t.close(passSpan, t.nowUs)
      detachListeners(t)
    }
    pass
  }

  // --- layer probes (traced run only) -----------------------------------

  private def probes(trace: Trace, base: String, work: Path): Unit = {
    val root = trace.add("probes", trace.nowUs, Double.NaN, -1)
    // sources: the first public call on an unseen directory builds the
    // store; the drain of what it returns is the read
    val dir = unseenDir(base, work)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val bytes0 = storeBytes(tmp)
    val probe = new Json.Obj
    attachListeners(trace)
    val (build, read) = Workloads.storeSteps.map { st =>
      val name = st.name.stripPrefix("store_")
      spark.sparkContext.setJobDescription(s"probe:${st.name}")
      val (df, b) = timed(trace, s"store.build:$name", root)(st.run(spark, dir))
      (b, timed(trace, s"store.read:$name", root)(ContentHash.drain(df))._2)
    }.unzip
    probe("store_build_s") = build.sum
    probe("store_read_s") = read.sum
    probe("store_bytes") = storeBytes(tmp) - bytes0
    // streaming: one stream twin, so every workload has a streaming figure
    val before = trace.synchronized(trace.batches.size)
    val sq = "q_stream_dedup_docs"
    spark.sparkContext.setJobDescription(s"probe:$sq")
    val st = timed(trace, s"stream:$sq", root)(ContentHash.drain(SparkEntry.queries(sq)(spark, dir)))
    probe("stream_probe_s") = st._2
    waitForListeners()
    probe("stream_probe_batches") = trace.synchronized(trace.batches.size) - before
    detachListeners(trace)
    probe("kernels") = kernelProbe(trace, root)
    trace.close(root, trace.nowUs)
    out("probes") = probe
  }

  /** ns/row of the hot kernels over a fixed `spark.range` frame: each
    * kernel's time minus the time to drain its own input column, best of
    * three drains of one planned frame (the first pays codegen). */
  private def kernelProbe(trace: Trace, parent: Int): Json.Obj = {
    val n = 1L << 20
    val s = col("id").cast("string")
    val words8 = concat_ws(" ", (0 until 8).map(i => concat(lit(s"w$i"), s)): _*)
    val arr4 = array(s, concat(s, lit("a")), concat(s, lit("b")), concat(s, lit("c")))
    val vec = array((0 until 64).map(i => (col("id") % 97 + i).cast("float")): _*)
    val accented = concat(lit("café "), s)
    val kernels: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = Seq(
      ("md5", s, md5(s)),
      ("md5Long", s, HashFunctions.md5Long(s)),
      ("md5LongHalves", s, HashFunctions.md5LongHalves(s, 0)),
      ("minhash", arr4, HashFunctions.minhash(arr4, 0)),
      ("nfc", accented, TextFunctions.nfc(accented)),
      ("tokens", words8, TextFunctions.tokens(words8)),
      ("shingles", words8, TextFunctions.shingles(words8, 3)),
      ("vec_dot", vec, VectorExpressions.vecDot(vec, vec)),
      ("ln_fixed", col("id") + 1, FixedPointLn.lnF(col("id") + 1)))
    val range = spark.range(0, n, 1, cores)
    def best(c: org.apache.spark.sql.Column): Double = {
      val rdd = range.select(c.as("k")).queryExecution.toRdd
      (1 to 3).map { _ =>
        val t = System.nanoTime()
        rdd.foreachPartition(it => while (it.hasNext) it.next())
        (System.nanoTime() - t).toDouble / n
      }.min
    }
    val res = new Json.Obj
    spark.sparkContext.setJobDescription("probe:kernels")
    val floor = timed(trace, "kernel:scan_floor", parent)(best(s))._1
    res("scan_floor") = floor
    kernels.foreach { case (name, input, kernel) =>
      val (v, _) = timed(trace, s"kernel:$name", parent)((best(input), best(kernel)))
      res(name) = Json.Obj("ns_row" -> (v._2 - v._1), "raw_ns_row" -> v._2, "input_ns_row" -> v._1)
    }
    res
  }

  // --- helpers ------------------------------------------------------------

  private def timed[T](trace: Trace, name: String, parent: Int)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = trace.span(name, parent)(_ => f)
    (r, secs(t0))
  }

  private def attempt[T](f: => T): Either[String, T] =
    try Right(f) catch {
      case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.toSeq.headOption.getOrElse("")}".take(300))
    }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Drop checkpointed blocks between steps (blocking), as `Bench` does. */
  private def clearCaches(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** The generated tables under a path the JVM has not seen yet (hard
    * links, so no bytes move): the stores key on the directory, so the
    * first call there builds. */
  private def unseenDir(base: String, work: Path): String = {
    val d = work.resolve("unseen")
    Files.createDirectories(d)
    Files.list(Paths.get(base)).forEach { f =>
      val to = d.resolve(f.getFileName)
      if (Files.isDirectory(f)) {
        Files.createDirectories(to)
        Files.list(f).forEach(g => link(g, to.resolve(g.getFileName)))
      } else link(f, to)
    }
    d.toString
  }

  private def link(from: Path, to: Path): Unit =
    try Files.createLink(to, from)
    catch { case _: Throwable => Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING) }

  private def storeBytes(tmp: Path): Long = {
    var total = 0L
    Files.list(tmp).filter(_.getFileName.toString.startsWith("graft_")).forEach { d =>
      val w = Files.walk(d)
      try w.filter(Files.isRegularFile(_)).forEach(f => total += Files.size(f))
      finally w.close()
    }
    total
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** (classes compiled, compile seconds) so far in this JVM. */
  private def codegenStats(): (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9)

  private def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  private def attachListeners(t: Trace): Unit = {
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.streams.addListener(t.streamListener)
  }

  private def waitForListeners(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  private def detachListeners(t: Trace): Unit = {
    waitForListeners()
    spark.sparkContext.removeSparkListener(t.sparkListener)
    spark.streams.removeListener(t.streamListener)
  }

  private def traceJson(t: Trace): Json.Obj = t.synchronized {
    Json.Obj(
      "run_id" -> t.runId,
      "spans" -> Json.Arr(t.all.map(s => Json.Obj("id" -> s.id, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "parent" -> s.parent, "run_id" -> s.runId)): _*),
      "jobs" -> Json.Arr(t.jobs.values.toSeq.map(j => Json.Obj("id" -> j.id, "desc" -> j.desc,
        "start_ms" -> j.start, "end_ms" -> j.end)): _*),
      "stages" -> Json.Arr(t.stages.values.toSeq.map { s =>
        val reads = s.reads.sorted
        Json.Obj("id" -> s.id, "job" -> s.job, "submit_ms" -> s.submit, "done_ms" -> s.done,
          "tasks" -> s.tasks, "run_ms" -> s.runMs, "shuffle_write" -> s.shWrite,
          "shuffle_read" -> s.shRead, "spill_disk" -> s.spill,
          "read_max" -> reads.lastOption.getOrElse(0L),
          "read_median" -> (if (reads.isEmpty) 0L else reads(reads.size / 2)))
      }: _*),
      "batches" -> Json.Arr(t.batches.toSeq.map(b => Json.Obj("query" -> b.query,
        "batch" -> b.batchId, "trigger_ms" -> b.triggerMs, "rows" -> b.rows)): _*))
  }
}
