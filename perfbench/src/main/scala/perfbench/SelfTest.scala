package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Harness self-checks that need a JVM: generator determinism, the
  * producer's manifest check on a small generated set, and the rule that
  * a throwing or mismatching query is counted failed and never timed.
  * Exits non-zero on the first failure. */
object SelfTest {
  private def check(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) sys.exit(1)
  }

  private def bytes(dir: Path): Seq[(String, Seq[Byte])] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)
    finally s.close()
  }

  def run(work: Path): Unit = {
    val a = Reclamacoes.write(work.resolve("gen-a"), "f", 7L, 2, 500, 3)
    val b = Reclamacoes.write(work.resolve("gen-b"), "f", 7L, 2, 500, 3)
    val c = Reclamacoes.write(work.resolve("gen-c"), "f", 8L, 2, 500, 3)
    check("generator: same seed, same bytes and manifest",
      bytes(work.resolve("gen-a")) == bytes(work.resolve("gen-b")) && a == b)
    check("generator: another seed, other bytes",
      bytes(work.resolve("gen-a")) != bytes(work.resolve("gen-c")) && a.hash != c.hash)
    check("generator: poison rows counted apart", a.poison == 6 && a.rows == 994)
    check("generator: every header variant sanitizes to its column",
      Reclamacoes.headerVariants.zip(graft.core.Schemas.reclamacoesColumns).forall {
        case (vs, c) => vs.forall(v => graft.core.Naming.sanitizeLower(v) == c)
      })

    val spark = Main.session(work)
    try {
      val in = work.resolve("gen-a")
      val sink = work.resolve("sink")
      val (_, rejects) = Producer.backfillPass(spark, in, sink)
      val ok = Producer.checkSink(spark, sink, a)
      check("producer: sink matches the manifest" + (if (ok.ok) "" else s": ${ok.detail}"), ok.ok)
      check("producer: rejects equal planted poison", rejects == a.poison)
      val wrong = Producer.checkSink(spark, sink, c)
      check("producer: a different manifest is refused", !wrong.ok)

      val throwsAtBuild: String => (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = _ => (_, _) => sys.error("boom")
      val throwsAtRun: String => (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame =
        _ => (s, _) => s.range(10).select(raise_error(lit("boom")).as("x"))
      val fine: String => (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame = _ => (s, _) => s.range(10).toDF()
      val o1 = QueryOps.run(spark, "throws-at-build", "", 1, None, throwsAtBuild)
      val o2 = QueryOps.run(spark, "throws-at-run", "", 2, None, throwsAtRun)
      check("query: a throw while building is failed and untimed",
        !o1.ok && o1.seconds.isEmpty && o1.error.isDefined)
      check("query: a throw while running is failed and untimed",
        !o2.ok && o2.seconds.isEmpty && o2.error.isDefined)
      val good = QueryOps.run(spark, "fine", "", 3, None, fine)
      check("query: a good op is timed and fingerprinted",
        good.ok && good.seconds.isDefined && good.fp.exists(_.rows == 10))
      val bad = QueryOps.run(spark, "fine", "", 4,
        good.fp.map(f => f.copy(hash = f.hash + 1)), fine)
      check("query: a result mismatch is failed and untimed", !bad.ok && bad.seconds.isEmpty)
      val same = QueryOps.run(spark, "fine", "", 5, good.fp, fine)
      check("query: the same result matches its fingerprint", same.ok)
    } finally spark.stop()
  }
}
