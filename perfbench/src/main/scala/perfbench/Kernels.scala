package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `graft.functions` kernels, each timed through its public SQL function
  * over one fixed generated frame: 64 fingerprints per row (ascending,
  * with half of them shared by the second array) and two 64-wide
  * vectors. The frame is cached before timing, so a figure is the
  * per-row time of a cached scan plus the kernel. */
object Kernels {
  val rows = 50000

  private val calls = Seq(
    "fn.minhash_sig_ns_row" -> "minhash_sig(a, 16)",
    "fn.sorted_intersect_ns_row" -> "sorted_intersect(a, b)",
    "fn.simhash64_ns_row" -> "simhash64(a)",
    "fn.cosine_sim_ns_row" -> "cosine_sim(u, v)")

  def measure(spark: SparkSession, reps: Int = 3): Map[String, Double] = {
    val frame = spark.range(rows).select(
      expr("array_sort(transform(sequence(0, 63), i -> xxhash64(id * 64 + i)))").as("a"),
      expr("array_sort(transform(sequence(0, 63), i -> xxhash64(id * 64 + i + 32)))").as("b"),
      expr("transform(sequence(0, 63), i -> sin(id + i))").as("u"),
      expr("transform(sequence(0, 63), i -> cos(id * 3 + i))").as("v"))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      frame.count()
      calls.map { case (metric, call) =>
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          frame.select(expr(call)).queryExecution.executedPlan.execute().foreach(_ => ())
          (System.nanoTime() - t0).toDouble / rows
        }
        metric -> times.sorted.apply(times.size / 2)
      }.toMap
    } finally frame.unpersist(blocking = true)
  }
}
