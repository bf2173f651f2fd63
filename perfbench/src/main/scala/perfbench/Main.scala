package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Harness JVM. Modes:
  *  - `run`: one benchmark run of a workload; writes the raw record
  *    (samples, checks, per-layer figures, run record) as JSON to `--out`;
  *  - `reference`: dumps every benchmarked query's result as parquet and
  *    records the fingerprint of the dump, for the oracle comparison;
  *  - `census`: full-result and `count()` time of every declared query;
  *  - `selftest`: the harness checks that need a JVM.
  * `run.py` drives it; see perfbench/README.md. */
object Main {

  /** The eight heaviest LLM-pipeline ops by full-result cost. */
  val corpusHeads: Seq[String] = Seq("q151_repetition_profile", "q115_triangle_count",
    "q173_setsim_join", "q111_pagerank", "q68_dedup_clusters", "q81_dedup_minhash",
    "q166_winnow_overlap", "q148_label_incremental")

  /** The relational ops that reach `graft.plans` (the as-of join) and
    * `graft.operators` (the salted skew join and the bucketed join). */
  val layerOps: Seq[String] = Seq("q18_join_asof_native", "q19_join_salted_skew",
    "q38_join_bucketed")

  /** The timed ops of a corpus-heads pass, in the order they run. */
  val queryOps: Seq[String] = corpusHeads ++ layerOps

  /** The untimed warm-up op; in a traced run it also measures the
    * tracing overhead. */
  val warmupOp = "q81_dedup_minhash"

  /** The data set of the query workload, under `--data`: the scale the
    * oracle gate runs at. */
  val dataSet = "sf0.01"

  private def opts(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The shipped session: the library's own builder at local[cores],
    * with the warehouse kept inside the run's work directory. */
  def session(work: Path, master: String = s"local[$cores]", parts: Int = cores): SparkSession = {
    val s = GraftSession.getOrCreate(master, parts,
      Map("spark.sql.warehouse.dir" -> work.resolve("warehouse").toString))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), Json(v))

  def main(args: Array[String]): Unit = {
    val o = opts(args)
    val work = Paths.get(o.getOrElse("work", ".bench_build/work")).toAbsolutePath
    Files.createDirectories(work)
    o("mode") match {
      case "run" => run(o, work)
      case "reference" => reference(o, work)
      case "census" =>
        val spark = session(work)
        val names = o.get("queries").map(_.split(",").toSeq)
          .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
        val w = new java.io.PrintWriter(o("out"), "UTF-8")
        try QueryOps.census(spark, o("data"), names, { l => w.println(l); w.flush() })
        finally { w.close(); spark.stop() }
      case "selftest" => SelfTest.run(work)
    }
  }

  /** Dump each query of the query workload once and fingerprint the
    * dump as read back; `run.py` then compares every dump with its
    * DuckDB oracle. Writes {query: {rows, hash, dir, data}} plus the
    * oracle SQL. */
  def reference(o: Map[String, String], work: Path): Unit = {
    val spark = session(work)
    val dumps = Paths.get(o("dumps")).toAbsolutePath
    val entries = queryOps.map { name =>
      val data = s"${o("data")}/$dataSet"
      val dir = dumps.resolve(name)
      val fp = try {
        graft.SparkEntry.queries(name)(spark, data).coalesce(1).write
          .mode("overwrite").parquet(dir.toString)
        graft.core.CacheScope.drain()
        val back = spark.read.parquet(dir.toString)
        Right(QueryOps.fingerprint(back.queryExecution.executedPlan))
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          graft.core.CacheScope.drain()
          Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      name -> Map("data" -> dataSet, "dir" -> dir.toString,
        "rows" -> fp.toOption.map(_.rows),
        "hash" -> fp.toOption.map(_.hash.toString), "error" -> fp.left.toOption,
        "oracle_sql" -> graft.SparkEntry.oracleSql.get(name))
    }
    write(o("out"), entries.toMap)
    spark.stop()
  }

  def run(o: Map[String, String], work: Path): Unit = {
    val t0 = System.nanoTime()
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val spans = new Spans(t0)
    val record = RunRecord.start()

    // set-up, part 1: the session (cold: the first in this JVM)
    val b0 = System.nanoTime()
    var spark = spans("session_build")(session(work))
    val buildS = (System.nanoTime() - b0) / 1e9
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload, "seed" -> seed,
      "trace" -> traced, "session_build_s" -> buildS)
    val layers = mutable.LinkedHashMap[String, Any]("core.session_build_s" -> buildS)
    try {
      if (workload == "producer")
        spark = runProducer(spark, work, seed, seconds, traced, spans, out, layers)
      else runQueries(spark, traced, spans, o, out, layers, buildS)
      if (traced) {
        val k = spans("kernels")(Kernels.measure(spark))
        layers ++= k
        out("spans") = spans.toSeq
      }
      out("record") = record.finish(spark)
    } finally {
      val s = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      s.foreach(_.stop())
    }
    out("layers") = layers
    out("peak_mem_mb") = Memory.peakPoolsMb()
    out("peak_heap_mb") = Memory.peakHeapPoolsMb()
    out("peak_rss_mb") = Memory.peakRssMb()
    out("jvm_s") = (System.nanoTime() - t0) / 1e9
    write(o("out"), out)
  }

  /** One pass over `names` in the given order; ops get ids from `firstId`. */
  private def pass(spark: SparkSession, names: Seq[String], data: String,
      expected: Map[String, QueryOps.Fingerprint], firstId: Int,
      spans: Spans): (Seq[QueryOps.Op], Double) = {
    val p0 = System.nanoTime()
    val ops = names.zipWithIndex.map { case (n, i) =>
      spans(s"op:$n", Some(firstId + i))(QueryOps.run(spark, n, data, firstId + i, expected.get(n)))
    }
    (ops, (System.nanoTime() - p0) / 1e9)
  }

  def runQueries(spark: SparkSession, traced: Boolean, spans: Spans,
      o: Map[String, String], out: mutable.Map[String, Any],
      layers: mutable.Map[String, Any], sessionS: Double): Unit = {
    val data = s"${o("data")}/$dataSet"
    val expected = QueryOps.readExpected(o("expected"))
    // set-up, part 2: the untimed warm-up op
    val (warm, warmS) = spans("warmup")(pass(spark, Seq(warmupOp), data, expected, 0, spans))
    out("setup_s") = sessionS + warmS
    out("warmup_failed") = warm.filterNot(_.ok).map(op => op.name -> op.error).toMap
    // One pass in list order, whatever `--seconds` says: a pass is the
    // smallest unit that holds q151, and in list order every op meets
    // the same JIT and cache state from run to run.
    val totals = new SparkTotals
    if (traced) spark.sparkContext.addSparkListener(totals)
    val (ops, passS) = spans("timed_pass")(pass(spark, queryOps, data, expected, 1000, spans))
    out("ops") = ops.map(_.fields)
    out("pass_s") = passS
    out("expected_missing") = queryOps.filterNot(expected.contains)
    if (traced) {
      Thread.sleep(500) // let the listener bus deliver the last events
      spark.sparkContext.removeSparkListener(totals)
      out("per_op_spark") = ops.flatMap(op => totals.synchronized(totals.byGroup.get(s"op-${op.id}"))
        .map(a => s"${op.name}#${op.id}" -> a.fields(op.seconds.getOrElse(0.0), cores))).toMap
      layers ++= totals.synchronized(totals.total.fields(passS, cores))
      layers("queries.build_s") = ops.flatMap(_.buildS).sum
      layers("queries.plan_s") = ops.flatMap(_.planS).sum
      layers("queries.exec_s") = ops.flatMap(_.execS).sum
      layers("core.drain_s") = ops.map(_.drainS).sum
      layers("core.cache_entries_max") = ops.map(_.cacheEntries).max.toDouble
      ops.foreach(op => layers(s"q.${op.name}_s") = op.seconds.getOrElse(0.0))
      layers("trace.overhead_s") = spans("overhead_probe")(overheadProbe(spark, {
        () => QueryOps.run(spark, warmupOp, data, 3000, expected.get(warmupOp))
          .seconds.getOrElse(0.0)
      }))
    }
  }

  /** Tracing overhead: the probe run alternately without and with the
    * listeners, three times each; traced minus untraced median seconds. */
  def overheadProbe(spark: SparkSession, probe: () => Double): Double = {
    val (plain, withListeners) = (1 to 3).map { _ =>
      val a = probe()
      val l = new SparkTotals
      spark.sparkContext.addSparkListener(l)
      val b = try probe() finally spark.sparkContext.removeSparkListener(l)
      (a, b)
    }.unzip
    median(withListeners) - median(plain)
  }

  def runProducer(spark0: SparkSession, work: Path, seed: Long, seconds: Double,
      traced: Boolean, spans: Spans, out: mutable.Map[String, Any],
      layers: mutable.Map[String, Any]): SparkSession = {
    var spark = spark0
    val setupFrom = System.nanoTime()
    // set-up, part 2: the backfill input files
    val in = work.resolve("backfill-in")
    val manifest = spans("generate")(Reclamacoes.write(in, "backfill", seed,
      Producer.backfillFiles, Producer.backfillRowsPerFile, Producer.backfillPoisonPerFile))
    out("manifest") = manifest.fields
    var n = 0
    def sinkPath() = { n += 1; work.resolve(s"backfill-sink-$n") }
    def checked(sink: Path, r: (Double, Long), full: Boolean): Map[String, Any] = {
      val c = if (full) Producer.checkSink(spark, sink, manifest)
        else Producer.countSink(spark, sink, manifest)
      Producer.deleteTree(sink)
      Producer.deleteTree(Paths.get(sink.toString + "-ckpt"))
      Map("seconds" -> r._1, "rejects" -> r._2, "ok" -> (c.ok && r._2 == manifest.poison),
        "full_check" -> full, "detail" -> c.detail, "rows" -> c.rows,
        "value_bytes" -> c.valueBytes, "sink_bytes" -> c.sinkBytes)
    }
    // set-up, part 3: two warm-up passes, the first fully checked
    val warm = spans("warmup")((1 to 2).map { i =>
      val s = sinkPath()
      checked(s, Producer.backfillPass(spark, in, s), full = i == 1)
    })
    out("warmup") = warm
    out("setup_s") = out("session_build_s").asInstanceOf[Double] +
      (System.nanoTime() - setupFrom) / 1e9
    // every pass is count-checked; the last is decoded and fully checked
    val passes = math.max(5, math.round(seconds / 2).toInt)
    def backfill(tag: String) = (1 to passes).map { i =>
      System.gc()
      val s = sinkPath()
      val r = spans(tag)(Producer.backfillPass(spark, in, s))
      checked(s, r, full = i == passes)
    }
    val progressListener = new StreamProgress
    val totals = new SparkTotals
    if (traced) {
      spark.streams.addListener(progressListener)
      spark.sparkContext.addSparkListener(totals)
    }
    val t0 = System.nanoTime()
    val timedPasses = backfill("backfill_pass")
    val backfillWall = (System.nanoTime() - t0) / 1e9
    out("backfill") = timedPasses
    // the live phase lasts about `seconds`, with at least 20 timed files
    val timedFiles = math.max(20,
      math.round(seconds * 1000 / Producer.liveIntervalMs).toInt - Producer.liveWarmupFiles)
    val live = spans("live")(Producer.live(spark, work.resolve("live"), seed,
      Producer.liveWarmupFiles + timedFiles))
    out("live") = Map("latencies_ms" -> live.latenciesMs, "late_ms_max" -> live.lateMsMax,
      "backlog_files_max" -> live.backlogMax, "backlog_files_end" -> live.backlogEnd,
      "rejects" -> live.rejects, "manifest" -> live.manifest.fields,
      "ok" -> (live.check.ok && live.rejects == live.manifest.poison),
      "detail" -> live.check.detail, "rows" -> live.check.rows, "seconds" -> live.seconds,
      "batches" -> live.progress.size)
    if (traced) {
      Thread.sleep(500) // let the listener buses deliver the last events
      spark.sparkContext.removeSparkListener(totals)
      spark.streams.removeListener(progressListener)
      layers ++= totals.synchronized(totals.total.fields(backfillWall + live.seconds, cores))
      layers("trace.overhead_s") = spans("overhead_probe")(overheadProbe(spark, { () =>
        val s = sinkPath()
        val r = Producer.backfillPass(spark, in, s)
        Producer.deleteTree(s); Producer.deleteTree(Paths.get(s.toString + "-ckpt"))
        r._1
      }))
      val ps = progressListener.synchronized(progressListener.progress.toSeq)
        .filter(_.numInputRows > 0)
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets", "triggerExecution").foreach { k =>
        layers(s"stream.${k}_ms") = median(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
      }
      layers("stream.batches") = ps.size.toDouble
      layers("stream.rows_per_batch_p50") = median(ps.map(_.numInputRows.toDouble))
      layers("stream.backlog_files_max") = live.backlogMax.toDouble
      layers("stream.backlog_files_end") = live.backlogEnd.toDouble
      layers("loadgen.late_ms_max") = live.lateMsMax
      // ingest stages as successive prefixes of the public pipeline
      val pre = spans("ingest_prefixes")((1 to 2).map { _ =>
        val s = sinkPath()
        val r = Producer.prefixTimes(spark, in, s)
        Producer.deleteTree(s); Producer.deleteTree(Paths.get(s.toString + "-ckpt"))
        r.toMap
      })
      def stage(k: String) = median(pre.map(_(k)))
      layers("ingest.scan_s") = stage("scan")
      layers("ingest.canonicalize_s") = stage("canonicalize") - stage("scan")
      layers("ingest.encode_s") = stage("encode") - stage("canonicalize")
      layers("ingest.sink_s") = stage("sink") - stage("encode")
      val checkedPass = timedPasses.last // the fully checked one
      layers("ingest.value_bytes_per_row") =
        checkedPass("value_bytes").asInstanceOf[Long].toDouble / manifest.rows
      layers("ingest.sink_bytes_per_input_byte") =
        checkedPass("sink_bytes").asInstanceOf[Long].toDouble / manifest.inputBytes
      layers("ingest.rows_rejected") = checkedPass("rejects").asInstanceOf[Long].toDouble
      layers("ingest.reject_recall") = checkedPass("rejects").asInstanceOf[Long].toDouble / manifest.poison
      // the same backfill on one core: the single-threaded baseline
      spark.stop()
      spark = session(work, "local[1]", 1)
      val one = spans("backfill_1core") {
        val s = sinkPath()
        checked(s, Producer.backfillPass(spark, in, s), full = false)
      }
      out("backfill_1core") = one
      layers("ingest.rows_per_s_1core") = manifest.rows / one("seconds").asInstanceOf[Double]
      spark.stop()
      spark = session(work)
    }
    spark
  }
}
