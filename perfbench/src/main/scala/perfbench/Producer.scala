package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.core.Schemas
import graft.ingest.{AvroCodec, CsvSource, IdempotentParquetSink, Pipeline, Sinks}

/** The producer, the reference's own product: reclamações CSV →
  * canonical 14 columns → Avro `value` → sink, driven only through the
  * engine's public ingest API. Two phases on one session: a backfill of
  * a few large files through the batch pipeline, and a live phase where
  * one generator thread drops small files on a fixed schedule into the
  * streaming pipeline. */
object Producer {

  /** Input geometry. Backfill: 8 files of 40 000 rows; live: files of
    * 1 000 rows due every 500 ms, longer than one micro-batch takes, so
    * that each file is committed by a batch of its own. At 200 ms a run
    * settled into batches of either two or three files, and the median
    * latency jumped by 20 % between runs with the regime. Each file
    * plants a fixed number of poison rows. */
  val backfillFiles = 8
  val backfillRowsPerFile = 40000
  val backfillPoisonPerFile = 7
  val liveRowsPerFile = 1000
  val livePoisonPerFile = 3
  val liveIntervalMs = 500
  /** The first live files warm the streaming path; their latencies are
    * not reported. */
  val liveWarmupFiles = 6
  val liveMaxFilesPerTrigger = 8

  /** Outcome of decoding a sink and comparing it with a manifest. */
  final case class SinkCheck(ok: Boolean, detail: String, rows: Long,
      valueBytes: Long, sinkBytes: Long)

  /** Bytes of the parquet files under `p`. */
  def parquetBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  /** Decode the sink with `AvroCodec.decodeFrame` and compare row count,
    * nulls per column and the order-insensitive row hash with `m`. */
  def checkSink(spark: SparkSession, sink: Path, m: Reclamacoes.Manifest): SinkCheck = {
    val values = spark.read.parquet(sink.toString)
    val decoded = AvroCodec.decodeFrame(spark, values)
      .select(Schemas.reclamacoesColumns.map(col): _*)
    val width = Schemas.reclamacoesColumns.size
    val (n, h, nulls) = decoded.rdd.mapPartitions { it =>
      var n, h = 0L
      val nulls = Array.fill(width)(0L)
      it.foreach { r =>
        val fs = (0 until width).map(r.getString)
        h += Reclamacoes.rowHash(fs)
        n += 1
        fs.indices.foreach(i => if (fs(i) == null) nulls(i) += 1)
      }
      Iterator.single((n, h, nulls))
    }.fold((0L, 0L, Array.fill(width)(0L))) { case ((a, b, c), (d, e, f)) =>
      (a + d, b + e, c.zip(f).map { case (x, y) => x + y })
    }
    val valueBytes = values.agg(coalesce(sum(length(col("value"))), lit(0L)))
      .head().getLong(0)
    val gotNulls = Schemas.reclamacoesColumns.zip(nulls).toMap
    val problems = Seq(
      if (n != m.rows) Some(s"rows $n != ${m.rows}") else None,
      if (h != m.hash) Some("row hash differs") else None,
      if (gotNulls != m.nullsPerColumn) Some(s"nulls $gotNulls != ${m.nullsPerColumn}") else None
    ).flatten
    SinkCheck(problems.isEmpty, problems.mkString("; "), n, valueBytes,
      parquetBytes(sink))
  }

  /** The cheap check every timed pass gets: the sink's row count (from
    * the parquet footers) against the manifest. */
  def countSink(spark: SparkSession, sink: Path, m: Reclamacoes.Manifest): SinkCheck = {
    val n = spark.read.parquet(sink.toString).count()
    SinkCheck(n == m.rows, if (n == m.rows) "" else s"rows $n != ${m.rows}", n, 0L,
      parquetBytes(sink))
  }

  /** One backfill pass: batch pipeline with the lenient encoder into an
    * idempotent parquet sink. Returns (seconds, rejected rows). */
  def backfillPass(spark: SparkSession, in: Path, sink: Path): (Double, Long) = {
    val t0 = System.nanoTime()
    val (values, rejects) =
      AvroCodec.encodeFrameLenient(spark, Pipeline.canonicalBatch(spark, in.toString))
    IdempotentParquetSink(sink.toString, sink.toString + "-ckpt").writeBatch(values)
    ((System.nanoTime() - t0) / 1e9, rejects.value.longValue)
  }

  /** Cumulative time of successive prefixes of the backfill pipeline,
    * each fully materialized with rows discarded: scan, canonicalize,
    * encode, then the whole pass into the sink. */
  def prefixTimes(spark: SparkSession, in: Path, sink: Path): Seq[(String, Double)] = {
    def drain(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.queryExecution.executedPlan.execute().foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }
    def time(f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      val df = f
      (System.nanoTime() - t0) / 1e9 + drain(df)
    }
    val scan = time(CsvSource.readBatch(spark, in.toString))
    val canon = time(Pipeline.canonicalBatch(spark, in.toString))
    val enc = time(AvroCodec.encodeFrameLenient(spark,
      Pipeline.canonicalBatch(spark, in.toString))._1)
    val all = backfillPass(spark, in, sink)._1
    Seq("scan" -> scan, "canonicalize" -> canon, "encode" -> enc, "sink" -> all)
  }

  /** Live phase outcome. `latenciesMs` holds due → committed of each
    * file after the first [[liveWarmupFiles]]. */
  final case class Live(latenciesMs: Seq[Double], lateMsMax: Double,
      progress: Seq[StreamingQueryProgress], backlogMax: Int, backlogEnd: Int,
      rejects: Long, manifest: Reclamacoes.Manifest, check: SinkCheck, seconds: Double)

  /** Open loop: a bootstrap file starts the stream; then `files` files
    * are due every [[liveIntervalMs]], written by one generator thread.
    * File order is commit order (the source takes the oldest files
    * first), so file k is committed when the cumulative input rows of
    * the committed micro-batches first cover it. */
  def live(spark: SparkSession, work: Path, seed: Long, files: Int): Live = {
    val src = work.resolve("live-in")
    val sink = work.resolve("live-sink")
    var manifest = Reclamacoes.write(src, "live", seed, 1, liveRowsPerFile, livePoisonPerFile)
    val (values, rejects) =
      Pipeline.valuesStreamLenient(spark, src.toString, liveMaxFilesPerTrigger)
    val q = Sinks.start(values,
      IdempotentParquetSink(sink.toString, work.resolve("live-ckpt").toString),
      Trigger.ProcessingTime(0))
    val seen = mutable.LinkedHashMap.empty[Long, StreamingQueryProgress]
    def poll(): Unit = q.recentProgress.foreach { p =>
      if (p.numInputRows > 0) seen.getOrElseUpdate(p.batchId, p)
    }
    try {
      q.processAllAvailable()
      val start = System.currentTimeMillis() + 100
      val due = (1 to files).map(k => start + (k - 1).toLong * liveIntervalMs)
      val late = new Array[Long](files + 1)
      val written = new java.util.concurrent.atomic.AtomicInteger(0)
      val gen = new Thread(() => {
        (1 to files).foreach { k =>
          val wait = due(k - 1) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          late(k) = System.currentTimeMillis() - due(k - 1)
          val m = Reclamacoes.writeFile(src, "live", seed, k, liveRowsPerFile, livePoisonPerFile)
          manifest.synchronized { manifest = Reclamacoes.merge(manifest, m) }
          written.incrementAndGet()
        }
      }, "perfbench-loadgen")
      gen.setDaemon(true)
      gen.start()
      val deadline = System.currentTimeMillis() + files.toLong * liveIntervalMs + 60000
      def committedRows = seen.values.map(_.numInputRows).sum
      val totalRows = (files + 1).toLong * liveRowsPerFile
      var backlogEnd = -1
      while (committedRows < totalRows && System.currentTimeMillis() < deadline) {
        Thread.sleep(20)
        poll()
        if (backlogEnd < 0 && written.get == files)
          backlogEnd = files + 1 - (committedRows / liveRowsPerFile).toInt
      }
      gen.join(10000)
      poll()
      require(committedRows == totalRows,
        s"live phase committed $committedRows of $totalRows rows before the deadline")
      // batch end (trigger start + its duration) per committed file
      val batches = seen.values.toSeq.sortBy(_.batchId)
      val ends = batches.map(p => Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue)
      val cum = batches.map(_.numInputRows / liveRowsPerFile).scanLeft(0L)(_ + _).tail
      val committedAt = (1 to files).map(k => ends(cum.indexWhere(_ >= k + 1)))
      val latencies = (liveWarmupFiles + 1 to files).map(k =>
        (committedAt(k - 1) - due(k - 1)).toDouble)
      // files due but not yet committed, at each file's due time
      val backlogMax = (1 to files).map { k =>
        k + 1 - batches.indices.filter(i => ends(i) <= due(k - 1))
          .map(i => cum(i)).lastOption.getOrElse(0L).toInt
      }.max
      val seconds = (ends.last - start) / 1e3
      q.stop()
      val check = checkSink(spark, sink, manifest)
      Live(latencies, late.max.toDouble, batches, backlogMax, math.max(backlogEnd, 0),
        rejects.value.longValue, manifest, check, seconds)
    } finally if (q.isActive) q.stop()
  }
}
