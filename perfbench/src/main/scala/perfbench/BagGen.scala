package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import graft.model.{BagTables, TableSpec}

/** Seeded generator of the 13 GOB-dialect `*_ActueelEnHistorie.csv`
  * extracts the BAG import job reads, with the outcome the job must
  * produce on them (the manifest).
  *
  * Shape of the data:
  *  - every table has a population of "good" identificaties with 1-3
  *    versions each; all but the last version are closed, the last is
  *    open (empty `eindGeldigheid`);
  *  - FK references point at version 1 of a good identificatie of the
  *    parent, so every good row loads on both days;
  *  - a small planted share of rows is rejected, one defect per row:
  *    invalid date range, unparseable or unpromotable WKT, an EWKT SRID
  *    other than 28992, and an FK miss on each FK column. Malformed CSV
  *    lines (too few fields) are dropped by the source and neither load
  *    nor reject;
  *  - day 2 is day 1 plus: about 10% of identificaties get their open
  *    version closed and a new open version, and about 5% new
  *    identificaties appear.
  *
  * All randomness is keyed per (table, identificatie, volgnummer), so
  * a row of day 1 is byte-identical on day 2 unless day 2 closes it,
  * and the same seed gives byte-identical extracts. */
object BagGen {

  /** Expected outcome of one table on one day. `loaded` is the
    * committed row count, `rejected` the dead-letter count of the
    * import, `malformed` the lines the CSV source drops, and
    * `inserted`/`updated` the merge audit against the previous day. */
  case class Expect(csvRows: Long, loaded: Long, rejected: Long,
      reasons: Map[String, Long], malformed: Long, inserted: Long,
      updated: Long)

  /** One generated extract set: its directory, per-table expectations
    * in load order, and its total size. */
  case class Extract(dir: Path, expect: Seq[(String, Expect)], csvBytes: Long)

  /** Share of the identificaties each table gets; the four gebieden
    * tables and woonplaats are fixed-size, as in Amsterdam. */
  private val share: Map[String, Double] = Map(
    "wijk" -> 0.004, "buurt" -> 0.01, "bouwblok" -> 0.04,
    "openbare_ruimte" -> 0.06, "ligplaats" -> 0.01, "standplaats" -> 0.005,
    "pand" -> 0.24, "verblijfsobject" -> 0.33, "nummeraanduiding" -> 0.30)
  private val fixed: Map[String, Int] = Map(
    "woonplaats" -> 3, "stadsdeel" -> 8, "ggw_gebied" -> 22,
    "ggw_praktijkgebied" -> 30)

  /** Day-1 good identificaties of `table` when the whole set has about
    * `idents` of them. */
  private def identCount(table: String, idents: Int): Int =
    fixed.getOrElse(table, math.max(6, math.round(share(table) * idents).toInt))

  private val code: Map[String, Int] =
    BagTables.loadOrder.map(_.name).zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap

  /** Identificatie of row `i` of `table` in namespace `kind`: 0 good,
    * 7 malformed, 8 never present (FK-miss target), 9 planted reject. */
  def ident(table: String, kind: Int, i: Int): String =
    f"0363${code(table)}%02d$kind$i%09d"

  /** Deterministic random stream for one key. */
  def rng(seed: Long, key: String): SplittableRandom = {
    var h = seed ^ 0x9E3779B97F4A7C15L
    key.foreach { c => h = (h ^ c) * 0x100000001B3L; h ^= h >>> 29 }
    new SplittableRandom(h)
  }

  private case class Version(volg: Int, begin: LocalDate, eind: Option[LocalDate])

  private val epoch = LocalDate.of(2005, 1, 1)
  private val day2Epoch = LocalDate.of(2024, 1, 1)

  /** Day-1 version history of good identificatie `i`. */
  private def history(seed: Long, table: String, i: Int): Seq[Version] = {
    val r = rng(seed, s"$table|$i")
    val n = 1 + r.nextInt(3)
    val begins = Iterator.iterate(epoch.plusDays(r.nextInt(3000).toLong))(
      _.plusDays(30L + r.nextInt(900))).take(n).toSeq
    begins.zipWithIndex.map { case (b, j) =>
      Version(j + 1, b, if (j + 1 < n) Some(begins(j + 1)) else None)
    }
  }

  /** Day-2 history: day 1's, plus for about 10% of identificaties a
    * closed open version and a new open one. */
  private def history2(seed: Long, table: String, i: Int): (Seq[Version], Boolean) = {
    val h = history(seed, table, i)
    val r = rng(seed, s"$table|$i|day2")
    if (r.nextDouble() >= 0.10) (h, false)
    else {
      val nb = day2Epoch.plusDays(r.nextInt(300).toLong)
      (h.init :+ h.last.copy(eind = Some(nb)) :+ Version(h.last.volg + 1, nb, None), true)
    }
  }

  private def rejectReasons(spec: TableSpec): Seq[String] =
    Seq("invalid_date_range") ++
      spec.geometry.toSeq.flatMap(_ => Seq("invalid_geometry", "srid_mismatch")) ++
      spec.fks.map(fk => s"fk_miss:${fk.childCol}")

  /** Planted rejects per reason, and malformed lines, per table. */
  private def rejectsPer(n: Int): Int = math.max(1, n / 500)
  private def malformedPer(n: Int): Int = math.max(1, n / 1000)

  /** Write day `day` (1 or 2) of the extract set to `dir` and return
    * what the import job must report for it. */
  def generate(seed: Long, idents: Int, day: Int, dir: Path,
      tables: Seq[String] = AllTables): Extract = {
    require(day == 1 || day == 2, s"day must be 1 or 2, got $day")
    Files.createDirectories(dir)
    var bytes = 0L
    val expect = BagTables.loadOrder.filter(s => tables.contains(s.name)).map { spec =>
      val t = spec.name
      val n = identCount(t, idents)
      val nNew = if (day == 2) math.max(1, n / 20) else 0
      val header = spec.sourceCols.map(_._1)
      val sb = new StringBuilder("﻿").append(header.mkString(";")).append('\n')
      def emit(fields: Map[String, String]): Unit =
        sb.append(header.map(h => csvField(fields.getOrElse(h, ""))).mkString(";")).append('\n')

      var loaded = 0L; var inserted = 0L; var updated = 0L
      for (i <- 0 until n + nNew) {
        val (h, changed) =
          if (day == 2 && i < n) history2(seed, t, i) else (history(seed, t, i), false)
        h.foreach(v => emit(row(seed, spec, idents, tables, ident(t, 0, i), i, v)))
        loaded += h.size
        if (i >= n) inserted += h.size
        if (changed) { inserted += 1; updated += 1 }
      }
      if (day == 1) inserted = loaded

      val reasons = rejectReasons(spec)
      val perReason = rejectsPer(n)
      for ((reason, ri) <- reasons.zipWithIndex; k <- 0 until perReason) {
        val i = ri * perReason + k
        emit(reject(seed, spec, idents, tables, reason, i))
      }
      val mal = malformedPer(n)
      for (k <- 0 until mal) {
        val v = Version(1, epoch.plusDays(k.toLong), None)
        val full = row(seed, spec, idents, tables, ident(t, 7, k), k, v)
        // a truncated line: the last three fields are missing
        sb.append(header.dropRight(3).map(h => csvField(full.getOrElse(h, "")))
          .mkString(";")).append('\n')
      }
      val data = sb.toString.getBytes(StandardCharsets.UTF_8)
      Files.write(dir.resolve(fileName(t)), data)
      bytes += data.length
      val nRej = reasons.size.toLong * perReason
      t -> Expect(
        csvRows = loaded + nRej + mal,
        loaded = loaded, rejected = nRej,
        reasons = reasons.map(_ -> perReason.toLong).toMap,
        malformed = mal, inserted = inserted, updated = updated)
    }
    val ex = Extract(dir, expect, bytes)
    Files.writeString(dir.resolve("manifest.json"), manifestJson(seed, idents, day, ex))
    ex
  }

  val AllTables: Seq[String] = BagTables.loadOrder.map(_.name)

  def fileName(table: String): String = {
    val gob = if (BagTables.gobPath(table) == "gebieden") "GBD" else "BAG"
    s"${gob}_${table}_ActueelEnHistorie.csv"
  }

  /** GOB minimal quoting: quote only fields holding `;` or `"`. */
  private def csvField(s: String): String =
    if (s.contains(";") || s.contains("\"")) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Source columns of the versioned reference to `model`. */
  private def refCols(spec: TableSpec, model: String): (String, String) = {
    val src = spec.sourceCols.toMap.map(_.swap)
    (src(s"__${model}_ident"), src(s"__${model}_volg"))
  }

  private def pick[A](r: SplittableRandom, xs: A*): A = xs(r.nextInt(xs.size))
  private def fmt(d: LocalDate): String = d.toString

  private def geometry(r: SplittableRandom, target: String): String = {
    val x = 110000 + r.nextInt(25000); val y = 470000 + r.nextInt(30000)
    val w = 5 + r.nextInt(200); val hgt = 5 + r.nextInt(200)
    def ring(x: Int, y: Int) =
      s"(($x $y, ${x + w} $y, ${x + w} ${y + hgt}, $x ${y + hgt}, $x $y))"
    target match {
      case "POINT" => s"POINT($x.${r.nextInt(100)} $y.${r.nextInt(100)})"
      case "POLYGON" => s"POLYGON${ring(x, y)}"
      case _ => r.nextInt(5) match {
        case 0 => s"POLYGON${ring(x, y)}" // promoted to MULTIPOLYGON
        case 1 => s"SRID=28992;MULTIPOLYGON(${ring(x, y)})"
        case 2 => s"MULTIPOLYGON(${ring(x, y)}, ${ring(x + 300, y + 300)})"
        case _ => s"MULTIPOLYGON(${ring(x, y)})"
      }
    }
  }

  /** One good row: version `v` of identificatie `id` (index `i`). */
  private def row(seed: Long, spec: TableSpec, idents: Int, tables: Seq[String],
      id: String, i: Int, v: Version): Map[String, String] = {
    val t = spec.name
    val r = rng(seed, s"$t|$id|${v.volg}")
    val fields = scala.collection.mutable.Map[String, String](
      "identificatie" -> id,
      "volgnummer" -> v.volg.toString,
      "registratiedatum" -> f"${fmt(v.begin)} ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00",
      "beginGeldigheid" -> fmt(v.begin),
      "eindGeldigheid" -> v.eind.map(fmt).getOrElse(""),
      "code" -> s"${t.take(2).toUpperCase}$i",
      "naam" -> (if (r.nextInt(20) == 0) s"Kade ${r.nextInt(99)}; achterzijde"
        else s"${pick(r, "Noord", "Zuid", "Oost", "West", "Centrum")} ${r.nextInt(999)}"),
      "cbsCode" -> f"WK0363$i%04d",
      "documentdatum" -> fmt(v.begin.minusDays(r.nextInt(60).toLong)),
      "documentnummer" -> f"GV${r.nextInt(100000000)}%08d",
      "aanduidingInOnderzoek" -> pick(r, "J", "N", "N", "N"),
      "geconstateerd" -> pick(r, "J", "N", "N", "N", ""),
      "status" -> pick(r, "Naamgeving uitgegeven", "Verblijfsobject in gebruik",
        "Pand in gebruik", "Plaats aangewezen"),
      "type" -> pick(r, "Weg", "Water", "Spoorbaan", "Terrein"),
      "naamNEN" -> s"NEN ${r.nextInt(9999)}",
      "oppervlakte" -> pick(r, (20 + r.nextInt(300)).toString, ""),
      "verdiepingToegang" -> r.nextInt(12).toString,
      "hoogsteBouwlaag" -> (r.nextInt(8) + 4).toString,
      "laagsteBouwlaag" -> r.nextInt(4).toString,
      "aantalKamers" -> pick(r, (1 + r.nextInt(8)).toString, ""),
      "eigendomsverhouding" -> pick(r, "Huur", "Eigendom", ""),
      "gebruiksdoel" -> pick(r, "woonfunctie", "woonfunctie|kantoorfunctie", ""),
      "gebruiksdoelWoonfunctie" -> pick(r, "Zelfstandige woning", ""),
      "gebruiksdoelGezondheidszorgfunctie" -> pick(r, "", "", "", "Ziekenhuis"),
      "toegang" -> pick(r, "", "Trap|Lift", "Begane grond"),
      "redenopvoer" -> pick(r, "Nieuwbouw", "Splitsing", ""),
      "huisnummer" -> (1 + r.nextInt(400)).toString,
      "huisletter" -> pick(r, "", "", "A", "B"),
      "huisnummertoevoeging" -> pick(r, "", "", "1", "H"),
      "postcode" -> f"${1011 + r.nextInt(98)}%04d${('A' + r.nextInt(26)).toChar}${('A' + r.nextInt(26)).toChar}",
      "typeAdres" -> pick(r, "Hoofdadres", "Hoofdadres", "Nevenadres"))
    if (t == "verblijfsobject") {
      val nNag = identCount("nummeraanduiding", idents)
      fields("heeftIn:BAG.NAG.identificatieHoofdadres") =
        ident("nummeraanduiding", 0, r.nextInt(nNag))
      fields("heeftIn:BAG.NAG.volgnummerHoofdadres") = "1"
      val neven = Seq.fill(pick(r, 0, 0, 0, 1, 2))(ident("nummeraanduiding", 0, r.nextInt(nNag)))
      fields("heeftIn:BAG.NAG.identificatieNevenadres") = neven.mkString("|")
      fields("heeftIn:BAG.NAG.volgnummerNevenadres") = neven.map(_ => "1").mkString("|")
    }
    spec.geometry.foreach { g =>
      fields("geometrie") = if (r.nextInt(50) == 0) "" else geometry(r, g.targetType)
    }
    val models = spec.fks.map(_.parentTable)
    // nummeraanduiding addresses exactly one of ligplaats, standplaats
    // and verblijfsobject; the other two references stay empty
    val addressed = pick(r, "verblijfsobject", "verblijfsobject", "ligplaats", "standplaats")
    models.foreach { m =>
      val (ic, vc) = refCols(spec, m)
      // a reference to a table outside the extract set stays empty
      val skip = (m != "gemeente" && !tables.contains(m)) ||
        (t == "nummeraanduiding" && m != "openbare_ruimte" && m != addressed)
      if (!skip) {
        if (m == "gemeente") { fields(ic) = "0363"; fields(vc) = "1" }
        else {
          fields(ic) = ident(m, 0, r.nextInt(identCount(m, idents)))
          fields(vc) = pick(r, "1", "1", "1", "")   // empty volgnummer means 1
        }
      }
    }
    fields.toMap
  }

  /** Planted reject `i` of `reason`: a good-looking row with one defect. */
  private def reject(seed: Long, spec: TableSpec, idents: Int, tables: Seq[String],
      reason: String, i: Int): Map[String, String] = {
    val t = spec.name
    val id = ident(t, 9, i)
    val base = row(seed, spec, idents, tables, id, i,
      Version(1, epoch.plusDays(i.toLong % 3000), None))
    reason match {
      case "invalid_date_range" =>
        base ++ Map("beginGeldigheid" -> "2020-05-01", "eindGeldigheid" -> "2019-01-01")
      case "invalid_geometry" =>
        base + ("geometrie" -> (if (i % 2 == 0) "POLYGON((1 2, 3 4"
          else if (spec.geometry.exists(_.targetType == "POINT")) "POLYGON((0 0, 1 0, 1 1, 0 0))"
          else "POINT(1 2)"))
      case "srid_mismatch" =>
        base + ("geometrie" -> ("SRID=4326;" +
          geometry(rng(seed, s"$t|$id|srid"), spec.geometry.get.targetType)
            .stripPrefix("SRID=28992;")))
      case fk if fk.startsWith("fk_miss:") =>
        val childCol = fk.stripPrefix("fk_miss:")
        val m = spec.fks.find(_.childCol == childCol).get.parentTable
        val (ic, vc) = refCols(spec, m)
        val missing = if (m == "gemeente") "0999" else ident(m, 8, i)
        base + (ic -> missing) + (vc -> "1")
    }
  }

  private def manifestJson(seed: Long, idents: Int, day: Int, ex: Extract): String = {
    val tables = ex.expect.map { case (t, e) =>
      val reasons = e.reasons.toSeq.sorted.map { case (k, n) => s""""$k": $n""" }.mkString(", ")
      s"""    "$t": {"csv_rows": ${e.csvRows}, "loaded": ${e.loaded}, """ +
        s""""rejected": ${e.rejected}, "malformed": ${e.malformed}, """ +
        s""""inserted": ${e.inserted}, "updated": ${e.updated}, "reasons": {$reasons}}"""
    }
    s"""{\n  "seed": $seed, "idents": $idents, "day": $day, "csv_bytes": ${ex.csvBytes},\n""" +
      s"""  "tables": {\n${tables.mkString(",\n")}\n  }\n}\n"""
  }
}
