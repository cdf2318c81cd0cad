package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.util.Random

/** Seeded input generators for the three import formats (FIXTURES.md
  * §1–§4). The same seed and size give byte-identical files. Each
  * generator returns the row count it wrote per target table, which the
  * ingest checks compare with the loaded Derby tables.
  *
  * The files carry the empty fields real files carry: blank SIRENE cells
  * and missing sigles, FANTOIR voies without a nature code or last word,
  * deaths records with fewer than 8 prénoms, no birth country and
  * partial dates.
  */
object Gen {

  private val Latin1: Charset = StandardCharsets.ISO_8859_1

  private val words = Vector("DES", "GRANDE", "BELLEVUE", "MOULIN",
    "EGLISE", "CHATEAU", "FONTAINE", "PRES", "BOIS", "LAVOIR", "GARE",
    "PETIT", "CROIX", "CHAMPS", "VIGNES", "PONT", "RIVIERE", "COTEAU",
    "PLATEAU", "FORGE", "ÉCOLE", "MAIRIE", "HAMEAU", "SOURCE")
  private val natures = Vector("RUE", "AV", "CHE", "IMP", "LOT", "PL",
    "RTE", "ALL", "BD", "QUA", "RPT", "SQ")
  private val surnames = Vector("MARTIN", "BERNARD", "DUBOIS", "THOMAS",
    "ROBERT", "RICHARD", "PETIT", "DURAND", "LEROY", "MOREAU", "SIMON",
    "LAURENT", "LEFEBVRE", "MICHEL", "GARCIA", "DAVID", "BERTRAND", "ROUX")
  private val givenNames = Vector("JEAN", "MARIE", "PIERRE", "ANNE",
    "LOUIS", "JEANNE", "PAUL", "MARGUERITE", "HENRI", "LOUISE", "ANDRE",
    "SUZANNE", "JACQUES", "MADELEINE", "RENE", "GERMAINE", "JOSEPH")
  private val countries = Vector("ALGERIE", "ITALIE", "ESPAGNE",
    "PORTUGAL", "MAROC", "BELGIQUE", "POLOGNE")

  private def pad(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else s + " " * (n - s.length)
  private def digits(r: Random, n: Int): String =
    Seq.fill(n)(('0' + r.nextInt(10)).toChar).mkString
  private def upper(r: Random, n: Int): String =
    Seq.fill(n)(('A' + r.nextInt(26)).toChar).mkString
  private def label(r: Random, nWords: Int): String =
    Seq.fill(nWords)(words(r.nextInt(words.size))).mkString(" ")

  /** Place `(start, text)` fields (1-based start) on a line of `width`
    * blanks.
    */
  private def fixed(width: Int, fields: (Int, String)*): String = {
    val line = Array.fill(width)(' ')
    fields.foreach { case (start, text) =>
      text.zipWithIndex.foreach { case (c, i) => line(start - 1 + i) = c }
    }
    new String(line)
  }

  /** A FANTOIR file: header, then per direction its communes, each
    * followed by its voies, then the trailer. Lines are 150 latin-1
    * characters. Returns rows per table (`direction`, `commune`, `voie`);
    * the header and trailer lines are not table rows.
    */
  def fantoir(path: Path, seed: Long, voies: Int): Map[String, Long] = {
    val r = new Random(seed)
    val voiesPerCommune = 25
    val communesPerDirection = 20
    val nCommunes = math.max(1, (voies + voiesPerCommune - 1) / voiesPerCommune)
    val nDirections =
      (nCommunes + communesPerDirection - 1) / communesPerDirection
    var nVoie, nCommune = 0L
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(path), Latin1), 1 << 16)
    try {
      def line(s: String): Unit = { w.write(s); w.write('\n') }
      line("\u0000" + fixed(149, (11, "DGFIP FANTOIR BENCH"),
        (36, "20260101"), (44, "20260115")))
      for (d <- 0 until nDirections) {
        val dep = "%02d".format(1 + d % 95)
        val dir = (d / 95 % 10).toString
        line(fixed(150, (1, dep), (3, dir),
          (12, pad(s"DIRECTION $dep ${label(r, 1)}", 30))))
        val inDir =
          math.min(communesPerDirection, nCommunes - d * communesPerDirection)
        for (c <- 0 until inDir) {
          val com = "%03d".format(1 + c)
          nCommune += 1
          line(fixed(150, (1, dep), (3, dir), (4, com),
            (11, upper(r, 1)), (12, pad(label(r, 1 + r.nextInt(2)), 30)),
            (43, "R"), (46, if (r.nextBoolean()) "R" else " "),
            (50, "3"), (53, digits(r, 7)), (60, "0000000"),
            (67, digits(r, 7)), (75, "0000000"),
            (82, "19" + digits(r, 5))))
          val inCommune =
            math.min(voiesPerCommune, voies - nVoie.toInt)
          for (v <- 0 until math.max(0, inCommune)) {
            nVoie += 1
            val id = "%04d".format(1 + v)
            val nature =
              if (r.nextInt(8) == 0) "" else natures(r.nextInt(natures.size))
            val lib = label(r, 1 + r.nextInt(3))
            val last = if (r.nextInt(6) == 0) "" else lib.split(' ').last
            line(fixed(150, (1, dep), (3, dir), (4, com), (7, id),
              (11, upper(r, 1)), (12, nature), (16, pad(lib, 26)),
              (43, "R"), (46, if (r.nextBoolean()) "R" else " "),
              (49, r.nextInt(2).toString), (50, "3"),
              (60, "0000000"), (67, "0000000"),
              (75, "0000000"), (82, "19" + digits(r, 5)),
              (104, digits(r, 5)), (109, (1 + r.nextInt(5)).toString),
              (110, if (r.nextInt(10) == 0) "X" else " "),
              (113, last)))
          }
        }
      }
      line("9999999999" + " " * 140)
    } finally w.close()
    Map("direction" -> nDirections.toLong, "commune" -> nCommune,
      "voie" -> nVoie)
  }

  /** One SIRENE dessin row: name, label, length, type, rank. */
  private final case class Col(name: String, label: String, length: Int,
                               typ: String, gen: Random => String)

  private def blankOr(r: Random, oneIn: Int)(v: => String): String =
    if (r.nextInt(oneIn) == 0) "" else v

  private def date(r: Random): String =
    f"${1950 + r.nextInt(75)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"

  private val etablissement: Seq[Col] = Seq(
    Col("siren", "Numéro Siren", 9, "Texte", r => digits(r, 9)),
    Col("nic", "Numéro interne de classement", 5, "Texte", r => digits(r, 5)),
    Col("siret", "Numéro Siret", 14, "Texte", r => digits(r, 14)),
    Col("statutDiffusionEtablissement", "Statut de diffusion", 1,
      "Liste de codes", r => if (r.nextInt(20) == 0) "P" else "O"),
    Col("dateCreationEtablissement", "Date de création", 10, "Date",
      r => blankOr(r, 15)(date(r))),
    Col("trancheEffectifsEtablissement", "Tranche d'effectif salarié", 2,
      "Liste de codes", r => blankOr(r, 3)("%02d".format(r.nextInt(53)))),
    Col("anneeEffectifsEtablissement", "Année de validité", 4, "Date",
      r => blankOr(r, 3)((2015 + r.nextInt(10)).toString)),
    Col("activitePrincipaleRegistreMetiersEtablissement",
      "Activité exercée au registre des métiers", 6, "Liste de codes",
      r => blankOr(r, 2)(digits(r, 4) + upper(r, 2))),
    Col("dateDernierTraitementEtablissement", "Date du dernier traitement",
      19, "Date", r => date(r) + "T00:00:00"),
    Col("etablissementSiege", "Qualité de siège", 5, "Liste de codes",
      r => if (r.nextBoolean()) "true" else "false"),
    Col("nombrePeriodesEtablissement", "Nombre de périodes", 2, "Numérique",
      r => (1 + r.nextInt(9)).toString),
    Col("complementAdresseEtablissement", "Complément d'adresse", 38,
      "Texte", r => blankOr(r, 2)(s"BAT ${upper(r, 1)}")),
    Col("numeroVoieEtablissement", "Numéro de voie", 4, "Numérique",
      r => blankOr(r, 5)((1 + r.nextInt(200)).toString +
        (if (r.nextInt(10) == 0) "bis" else ""))),
    Col("typeVoieEtablissement", "Type de voie", 4, "Liste de codes",
      r => blankOr(r, 6)(natures(r.nextInt(natures.size)))),
    Col("libelleVoieEtablissement", "Libellé de voie", 100, "Texte",
      r => blankOr(r, 6)(label(r, 1 + r.nextInt(2)))),
    Col("codePostalEtablissement", "Code postal", 5, "Texte",
      r => blankOr(r, 40)(digits(r, 5))),
    Col("libelleCommuneEtablissement", "Libellé de la commune", 100,
      "Texte", r => label(r, 1)),
    Col("codeCommuneEtablissement", "Code commune", 5, "Liste de codes",
      r => digits(r, 5)),
    Col("denominationUsuelleEtablissement", "Dénomination usuelle", 100,
      "Texte", r => blankOr(r, 2)(s"${label(r, 1)}, ${upper(r, 3)}")),
    Col("activitePrincipaleEtablissement", "Activité principale", 6,
      "Liste de codes", r => s"${digits(r, 2)}.${digits(r, 2)}${upper(r, 1)}"),
    Col("caractereEmployeurEtablissement", "Caractère employeur", 1,
      "Liste de codes", r => blankOr(r, 4)(if (r.nextBoolean()) "O" else "N")))

  private val uniteLegale: Seq[Col] = Seq(
    Col("siren", "Numéro Siren", 9, "Texte", r => digits(r, 9)),
    Col("statutDiffusionUniteLegale", "Statut de diffusion", 1,
      "Liste de codes", r => "O"),
    Col("unitePurgeeUniteLegale", "Unité purgée", 5, "Liste de codes",
      r => blankOr(r, 2)("true")),
    Col("dateCreationUniteLegale", "Date de création", 10, "Date",
      r => blankOr(r, 12)(date(r))),
    Col("sigleUniteLegale", "Sigle", 20, "Texte",
      r => if (r.nextInt(4) == 0) upper(r, 3 + r.nextInt(3)) else ""),
    Col("sexeUniteLegale", "Sexe", 1, "Liste de codes",
      r => blankOr(r, 2)(if (r.nextBoolean()) "M" else "F")),
    Col("prenom1UniteLegale", "Premier prénom", 20, "Texte",
      r => blankOr(r, 2)(givenNames(r.nextInt(givenNames.size)))),
    Col("denominationUniteLegale", "Dénomination", 120, "Texte",
      r => blankOr(r, 3)(s"SOCIETE ${label(r, 2)}")),
    Col("categorieJuridiqueUniteLegale", "Catégorie juridique", 4,
      "Liste de codes", r => digits(r, 4)),
    Col("nombrePeriodesUniteLegale", "Nombre de périodes", 2, "Numérique",
      r => (1 + r.nextInt(9)).toString),
    Col("caractereEmployeurUniteLegale", "Caractère employeur", 1,
      "Liste de codes", r => blankOr(r, 4)(if (r.nextBoolean()) "O" else "N")))

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def sireneTable(dir: Path, table: String, cols: Seq[Col],
                          r: Random, rows: Int): Unit = {
    val dessin = cols.zipWithIndex.map { case (c, i) =>
      Seq(c.name, c.label, c.length.toString, c.typ, (i + 1).toString)
        .map(v => "\"" + v.replace("\"", "\"\"") + "\"").mkString(",")
    }
    Files.writeString(dir.resolve(s"dessin${table.toLowerCase}.csv"),
      ("\"Nom\",\"Libellé\",\"Longueur\",\"Type\",\"Ordre\"" +: dessin)
        .mkString("", "\n", "\n"), StandardCharsets.UTF_8)
    val zip = new ZipOutputStream(
      Files.newOutputStream(dir.resolve(s"${table}_utf8.zip")))
    try {
      zip.putNextEntry(new ZipEntry(s"$table.csv"))
      val w = new BufferedWriter(
        new OutputStreamWriter(zip, StandardCharsets.UTF_8), 1 << 16)
      w.write(cols.map(_.name).mkString(",")); w.write('\n')
      for (_ <- 0 until rows) {
        w.write(cols.map(c => csvCell(c.gen(r))).mkString(","))
        w.write('\n')
      }
      w.flush()
      zip.closeEntry()
    } finally zip.close()
  }

  /** A SIRENE directory: `StockEtablissement` and `StockUniteLegale`,
    * each a dessin CSV plus a single-entry zip of a header-row CSV.
    * Returns rows per (snake_cased) target table.
    */
  def sirene(dir: Path, seed: Long, rows: Int): Map[String, Long] = {
    val r = new Random(seed)
    Files.createDirectories(dir)
    val unites = math.max(1, rows / 2)
    sireneTable(dir, "StockEtablissement", etablissement, r, rows)
    sireneTable(dir, "StockUniteLegale", uniteLegale, r, unites)
    Map("stock_etablissement" -> rows.toLong,
      "stock_unite_legale" -> unites.toLong)
  }

  /** An INSEE deaths file (FIXTURES.md §4): 176-character fixed-offset
    * records. Returns rows for the `deces` table.
    */
  def deces(path: Path, seed: Long, rows: Int): Map[String, Long] = {
    val r = new Random(seed)
    def ymd(from: Int, span: Int): String = r.nextInt(25) match {
      case 0 => "00000000"
      case 1 => f"${from + r.nextInt(span)}%04d0000"
      case _ => f"${from + r.nextInt(span)}%04d${1 + r.nextInt(12)}%02d${1 + r.nextInt(28)}%02d"
    }
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try {
      for (_ <- 0 until rows) {
        val prenoms = Seq.fill(1 + r.nextInt(4))(
          givenNames(r.nextInt(givenNames.size))).mkString(" ")
        val abroad = r.nextInt(12) == 0
        w.write(pad(s"${surnames(r.nextInt(surnames.size))}*$prenoms/", 80))
        w.write((1 + r.nextInt(2)).toString)
        w.write(ymd(1920, 70))
        w.write(if (abroad) "99" + digits(r, 3) else digits(r, 5))
        w.write(pad(label(r, 1), 30))
        w.write(pad(if (abroad) countries(r.nextInt(countries.size)) else "", 30))
        w.write(ymd(2000, 25))
        w.write(digits(r, 5))
        w.write(pad(digits(r, 1 + r.nextInt(4)), 9))
        w.write('\n')
      }
    } finally w.close()
    Map("deces" -> rows.toLong)
  }

  /** Seeded document-to-batch assignment for the stream replay: batches
    * of `perBatch` ids, each with the same number of ids from `dups` (the
    * documents that have a near-duplicate: their share of `ids`, at least
    * one), in a seeded order within each group. A batch without hits
    * skips the fold's anti-join and runs ~40 % faster, so an unequal mix
    * would make batch times depend on the seed. Ids left over once either
    * group runs out are not replayed.
    */
  def batches(ids: Seq[Long], dups: Set[Long], seed: Long,
              perBatch: Int): Seq[Seq[Long]] = {
    val r = new Random(seed)
    val (d, other) = ids.sorted.partition(dups)
    val perDups = math.max(1, d.size * perBatch / ids.size)
    r.shuffle(d).grouped(perDups).filter(_.size == perDups)
      .zip(r.shuffle(other).grouped(perBatch - perDups)
        .filter(_.size == perBatch - perDups))
      .map { case (a, b) => a ++ b }.toSeq
  }
}
