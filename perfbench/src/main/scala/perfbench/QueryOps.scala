package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SparkPlan

import graft.core.CacheScope

/** Timed query ops. An op runs from the call of the declared query
  * function until its full result has been materialized, because several
  * queries run jobs while their DataFrame is still being built. The
  * result is the df's own `executedPlan`, executed with every row
  * fingerprinted on the workers and then discarded, so nothing that the
  * full result needs can be pruned away (as `count()` would). */
object QueryOps {

  /** Row count plus an order-insensitive hash of the rows' binary form. */
  final case class Fingerprint(rows: Long, hash: Long)

  def fingerprint(plan: SparkPlan): Fingerprint = {
    val schema = plan.schema
    val (n, h) = plan.execute().mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val u = proj(it.next())
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5eedL)
        n += 1
      }
      Iterator.single((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Fingerprint(n, h)
  }

  /** One op's outcome. Timings are None when the op failed. */
  final case class Op(name: String, id: Int, ok: Boolean, error: Option[String],
      seconds: Option[Double], buildS: Option[Double], planS: Option[Double],
      execS: Option[Double], fp: Option[Fingerprint], cacheEntries: Int,
      drainS: Double) {
    def fields: Map[String, Any] = Map("name" -> name, "id" -> id, "ok" -> ok,
      "error" -> error, "seconds" -> seconds, "build_s" -> buildS,
      "plan_s" -> planS, "exec_s" -> execS, "rows" -> fp.map(_.rows),
      "cache_entries" -> cacheEntries, "drain_s" -> drainS)
  }

  /** Run one declared query as a timed op under its own job group. The
    * result must match `expected` when given; a throw or a mismatch
    * makes the op failed and untimed. `CacheScope.drain()` runs after
    * the op, outside the timed span. */
  def run(spark: SparkSession, name: String, dir: String, id: Int,
      expected: Option[Fingerprint],
      fn: String => (SparkSession, String) => DataFrame = graft.SparkEntry.queries): Op = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    var t1, t2, t3 = 0L
    val outcome: Either[String, Fingerprint] =
      try {
        val df = fn(name)(spark, dir)
        t1 = System.nanoTime()
        val plan = df.queryExecution.executedPlan
        t2 = System.nanoTime()
        val fp = fingerprint(plan)
        t3 = System.nanoTime()
        expected match {
          case Some(e) if e != fp => Left(s"result mismatch: got $fp, expected $e")
          case _ => Right(fp)
        }
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      } finally sc.clearJobGroup()
    System.err.println(s"[op] $name#$id ${outcome.fold(e => "FAILED " + e,
      _ => f"${(t3 - t0) / 1e9}%.3f s")}")
    val entries = CacheScope.size
    val d0 = System.nanoTime()
    CacheScope.drain()
    val drainS = (System.nanoTime() - d0) / 1e9
    // start the next op from a collected heap, whatever ran before it
    System.gc()
    def s(a: Long, b: Long) = Some((b - a) / 1e9)
    outcome match {
      case Right(fp) => Op(name, id, ok = true, None, s(t0, t3), s(t0, t1),
        s(t1, t2), s(t2, t3), Some(fp), entries, drainS)
      case Left(err) => Op(name, id, ok = false, Some(err), None, None, None,
        None, None, entries, drainS)
    }
  }

  /** Full-result time and `count()` time of every declared query, once
    * each, in name order: the census that ranks the heads by what a user
    * of the full result pays. Untimed by the gated runs; one line per
    * query on `out`. */
  def census(spark: SparkSession, dir: String, names: Seq[String],
      out: String => Unit): Unit = names.zipWithIndex.foreach { case (name, i) =>
    val full = run(spark, name, dir, i, None)
    val t0 = System.nanoTime()
    val countS =
      try {
        graft.SparkEntry.queries(name)(spark, dir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable if scala.util.control.NonFatal(e) => None }
      finally CacheScope.drain()
    out(Json(Map("name" -> name, "full_s" -> full.seconds, "build_s" -> full.buildS,
      "count_s" -> countS, "rows" -> full.fp.map(_.rows), "error" -> full.error)))
  }

  /** Expected fingerprints, one `name<TAB>rows<TAB>hash` line per query
    * whose reference dump matched its oracle. */
  def readExpected(path: String): Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, rows, hash) = l.split("\t")
      n -> Fingerprint(rows.toLong, hash.toLong)
    }.toMap
}
