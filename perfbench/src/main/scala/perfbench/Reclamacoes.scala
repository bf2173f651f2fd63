package perfbench

import java.nio.charset.Charset
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

import graft.core.{Naming, Schemas}

/** Seeded generator of BCB "reclamações" CSV files in the shape the
  * producer ingests: `;`-separated, header row, bytes in the Windows
  * code page the real files use (read back as ISO-8859-1, so accents
  * survive and the `–` of the real headers decodes to a control
  * character that sanitization drops).
  *
  * Every file carries the 14 schema columns in the real order, spelled
  * with per-file variants that all sanitize to the canonical names, plus
  * one extra column that projection must drop. Nullable fields are left
  * empty at random; a known number of poison rows per file leave a
  * required field empty, which the lenient Avro encoder must reject.
  * The same seed writes the same bytes. */
object Reclamacoes {

  private val cp1252 = Charset.forName("windows-1252")

  /** Spelling variants per canonical column, real spelling first. */
  val headerVariants: Seq[Seq[String]] = Seq(
    Seq("Ano", "ANO", " Ano "),
    Seq("Trimestre", "TRIMESTRE", "trimestre."),
    Seq("Categoria", "CATEGORIA", "Categoria "),
    Seq("Tipo", "TIPO", "Tipo:"),
    Seq("CNPJ IF", "CNPJ_IF", "cnpj  if"),
    Seq("Instituição financeira", "Instituicao financeira", "INSTITUIÇÃO FINANCEIRA"),
    Seq("Índice", "Indice", "ÍNDICE"),
    Seq("Quantidade de reclamações reguladas procedentes",
      "Quantidade de reclamacoes reguladas procedentes",
      "QUANTIDADE DE RECLAMAÇÕES REGULADAS PROCEDENTES"),
    Seq("Quantidade de reclamações reguladas - outras",
      "Quantidade de reclamações reguladas – outras",
      "Quantidade de reclamações reguladas outras"),
    Seq("Quantidade de reclamações não reguladas",
      "Quantidade de reclamacoes nao reguladas",
      "Quantidade  de reclamações não reguladas"),
    Seq("Quantidade total de reclamações",
      "Quantidade total de reclamacoes",
      "QUANTIDADE TOTAL DE RECLAMAÇÕES"),
    Seq("Quantidade total de clientes – CCS e SCR",
      "Quantidade total de clientes - CCS e SCR",
      "Quantidade total de clientes CCS e SCR"),
    Seq("Quantidade de clientes – CCS", "Quantidade de clientes - CCS",
      "Quantidade de clientes CCS"),
    Seq("Quantidade de clientes – SCR", "Quantidade de clientes - SCR",
      "Quantidade de clientes SCR"))

  /** The column projection must drop, and where it sits. */
  val extraColumn = "Observações"
  private val extraAt = 4

  private val categorias = Seq("Bancos e financeiras", "Administradoras de consórcio",
    "Instituições de pagamento", "Cooperativas de crédito")
  private val tipos = Seq("Banco", "Financeira", "Cooperativa", "Conglomerado")
  private val instituicoes = Seq("BANCO DO BRASIL S.A.", "CAIXA ECONÔMICA FEDERAL",
    "ITAÚ UNIBANCO S.A.", "BANCO BRADESCO S.A.", "BANCO SANTANDER (BRASIL) S.A.",
    "NU PAGAMENTOS S.A. - INSTITUIÇÃO DE PAGAMENTO", "BANCO INTER S.A.",
    "COOPERATIVA DE CRÉDITO SICREDI", "BANCO C6 S.A.", "PAGSEGURO INTERNET S.A.")
  private val observacoes = Seq("sem observação", "dados revisados",
    "índice recalculado", "fonte: BCB")

  /** What a file set must decode to: valid rows, nulls per canonical
    * column over those rows, their order-insensitive hash, and the
    * planted poison rows. */
  final case class Manifest(rows: Long, nullsPerColumn: Map[String, Long],
      hash: Long, poison: Long, inputBytes: Long) {
    def fields: Map[String, Any] = Map("rows" -> rows, "nulls" -> nullsPerColumn,
      "hash" -> java.lang.Long.toUnsignedString(hash), "poison" -> poison,
      "input_bytes" -> inputBytes)
  }

  /** Order-insensitive row hash shared by the generator and the sink
    * check: XXH64 of the fields joined by U+0001, null as U+0000. */
  def rowHash(fields: Seq[String]): Long = {
    val b = fields.map(f => if (f == null) "\u0000" else f).mkString("\u0001")
      .getBytes("UTF-8")
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 0x5eedL)
  }

  /** The canonical value of each generated row, nulls for empty fields. */
  private def row(rng: scala.util.Random, poison: Boolean): Seq[String] = {
    def pick(xs: Seq[String]) = xs(rng.nextInt(xs.size))
    def count(max: Int) = rng.nextInt(max).toString
    def maybe(v: String) = if (rng.nextInt(10) == 0) null else v
    val base = Seq(
      (2019 + rng.nextInt(5)).toString,
      s"${1 + rng.nextInt(4)}º",
      pick(categorias),
      pick(tipos),
      maybe(f"${rng.nextInt(100000000)}%08d"),
      pick(instituicoes),
      f"${rng.nextInt(100)},${rng.nextInt(100)}%02d",
      count(5000),
      maybe(count(3000)),
      maybe(count(3000)),
      count(20000),
      count(90000000),
      maybe(count(50000000)),
      maybe(count(50000000)))
    if (!poison) base
    else {
      // empty one REQUIRED field: the wire schema cannot carry it
      val required = Schemas.reclamacoesColumns.indices
        .filterNot(i => Schemas.nullableColumns(Schemas.reclamacoesColumns(i)))
      base.updated(required(rng.nextInt(required.size)), null)
    }
  }

  /** Write `files` CSVs of `rowsPerFile` rows (of which `poisonPerFile`
    * are poison) into `dir`, named `<prefix>-NNNN.csv`. A file is written
    * under a hidden temporary name and renamed into place, so a reader
    * listing `*.csv` never sees it half written. Returns the manifest. */
  def write(dir: Path, prefix: String, seed: Long, files: Int, rowsPerFile: Int,
      poisonPerFile: Int): Manifest = {
    Files.createDirectories(dir)
    val empty = Manifest(0, Schemas.reclamacoesColumns.map(_ -> 0L).toMap, 0L, 0L, 0L)
    // files are independent, so they are written in parallel
    java.util.stream.IntStream.range(0, files).parallel()
      .mapToObj[Manifest](k => writeFile(dir, prefix, seed, k, rowsPerFile, poisonPerFile))
      .toList.asScala.foldLeft(empty)(merge)
  }

  def merge(a: Manifest, b: Manifest): Manifest = Manifest(a.rows + b.rows,
    a.nullsPerColumn.map { case (c, n) => c -> (n + b.nullsPerColumn(c)) },
    a.hash + b.hash, a.poison + b.poison, a.inputBytes + b.inputBytes)

  /** One file, a pure function of (seed, file index, sizes). */
  def writeFile(dir: Path, prefix: String, seed: Long, k: Int, rowsPerFile: Int,
      poisonPerFile: Int): Manifest = {
    val rng = new scala.util.Random(seed * 1000003L + k)
    val header = headerVariants.map(vs => vs(rng.nextInt(vs.size)))
    header.zip(Schemas.reclamacoesColumns).foreach { case (h, c) =>
      require(Naming.sanitizeLower(h) == c, s"header variant '$h' does not sanitize to $c")
    }
    val poisonRows = rng.shuffle((0 until rowsPerFile).toVector).take(poisonPerFile).toSet
    val sb = new StringBuilder(rowsPerFile * 160)
    def line(vs: Seq[String]): Unit = {
      val withExtra = vs.take(extraAt) ++ Seq(vs.last) ++ vs.drop(extraAt).dropRight(1)
      sb.append(withExtra.map(v => if (v == null) "" else v).mkString(";")).append('\n')
    }
    line(header :+ extraColumn)
    var rows, hash = 0L
    val nulls = Array.fill(Schemas.reclamacoesColumns.size)(0L)
    (0 until rowsPerFile).foreach { i =>
      val poison = poisonRows(i)
      val r = row(rng, poison)
      line(r :+ observacoes(rng.nextInt(observacoes.size)))
      if (!poison) {
        rows += 1
        hash += rowHash(r)
        r.indices.foreach(j => if (r(j) == null) nulls(j) += 1)
      }
    }
    val bytes = sb.toString.getBytes(cp1252)
    val tmp = dir.resolve(f".$prefix-$k%04d.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(f"$prefix-$k%04d.csv"), StandardCopyOption.ATOMIC_MOVE)
    Manifest(rows, Schemas.reclamacoesColumns.zip(nulls).toMap, hash,
      poisonPerFile.toLong, bytes.length.toLong)
  }
}
