package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.BagTables
import graft.ops.{Dedup, Relational, Temporal}
import graft.pipeline.{BagJob, ImportPipeline}
import graft.sources.CsvSource

/** One benchmark workload: a set-up, an operation the loop times, and
  * the check of that operation's output. */
trait Workload {
  /** Input rows one op consumes: CSV data rows, or documents. */
  def inputRows: Long
  /** Build the inputs from the seed; cheap enough to repeat. */
  def generate(): Unit
  /** Build the state every op starts from, once, after [[generate]]. */
  def buildState(): Unit = ()
  /** Restore the state an op starts from; outside the timed window. */
  def prepare(): Unit = ()
  /** The timed operation; returns what [[check]] inspects. */
  def op(): AnyRef
  /** None when `out` is correct, else what is wrong. */
  def check(out: AnyRef): Option[String]
  /** Output bytes per input byte of the last op. */
  def outputBytesPerInputByte: Double
  /** Drive one op step by step through the layers' public calls, with a
    * span around each; returns the op's output and per-layer figures. */
  def stepByStep(tr: Tracer): (AnyRef, Map[String, Double])
}

object Workloads {
  def rmTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { f =>
      val t = to.resolve(from.relativize(f))
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Order-independent content hash of a frame: row count plus the xor
    * and the wrapped sum of a 64-bit hash of every row. */
  def contentHash(df: DataFrame): String = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(1000000007L)))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.get(2)}"
  }
}

/** The BAG import job on day 2: `BagJob.run` of the day-2 extract,
  * restarted (`startAt`) at verblijfsobject, the table with the most
  * rows, against the day-1 snapshots committed during set-up and
  * restored before every op. The extract set also holds buurt, the
  * parent its FK checks resolve against. */
final class BagWorkload(spark: SparkSession, work: Path, seed: Long, idents: Int)
    extends Workload {
  import BagWorkload._
  import Workloads._

  private val day1Dir = work.resolve("day1")
  private val day2Dir = work.resolve("day2")
  private val baseDir = work.resolve("base")
  val outDir: Path = work.resolve("out")
  private var day1: BagGen.Extract = _
  private var day2: BagGen.Extract = _
  private var refHash: Option[String] = None

  private def slice(ex: BagGen.Extract) = ex.expect.filter(e => OpTables.contains(e._1))
  def inputRows: Long = slice(day2).map(_._2.csvRows).sum
  private def inputBytes: Long =
    OpTables.map(t => Files.size(day2Dir.resolve(BagGen.fileName(t)))).sum

  def generate(): Unit = {
    rmTree(work)
    day1 = BagGen.generate(seed, idents, 1, day1Dir, Tables)
    day2 = BagGen.generate(seed, idents, 2, day2Dir, Tables)
  }

  /** The day-1 snapshots every op starts from, loaded table by table,
    * and an empty committed snapshot of every other table, as a full
    * install leaves them, so the op's preload reads parquet as the
    * recurring job does. */
  override def buildState(): Unit = {
    val (outcomes, _) = load(day1Dir, baseDir, Tables, None)
    outcomeMismatch(outcomes, day1.expect).foreach(m =>
      throw new IllegalStateException(s"day-1 load does not match its manifest: $m"))
    BagTables.loadOrder.foreach(spec => snapshot(baseDir, spec.name))
  }

  /** The committed snapshot of `name` in `into`. An absent one is first
    * committed empty (`emptySnapshot` of its parents, resolved the same
    * way), so FK checks read parquet, not nested empty plans. */
  private def snapshot(into: Path, name: String): DataFrame = {
    val d = into.resolve(name)
    if (!Files.exists(d)) {
      val spec = BagTables.loadOrder.find(_.name == name).get
      val parents = spec.fks.map(fk => fk.parentTable -> snapshot(into, fk.parentTable)).toMap
      ImportPipeline.commitSnapshot(ImportPipeline.emptySnapshot(spark, spec, parents), d.toString)
    }
    spark.read.parquet(d.toString)
  }

  override def prepare(): Unit = {
    rmTree(outDir)
    copyTree(baseDir, outDir)
  }

  def op(): AnyRef = BagJob.run(spark, day2Dir.toString, outDir.toString, Some(OpTables.head))

  private def outcomeMismatch(outcomes: Seq[BagJob.TableOutcome],
      expect: Seq[(String, BagGen.Expect)]): Option[String] = {
    // tables outside the extract set have no extract; the job skips them
    val got = outcomes.filterNot(o => o.skipped && !Tables.contains(o.name))
      .map(o => o.name -> o).toMap
    val want = ("gemeente" -> ((1L, 0L))) +: expect.map { case (t, e) => t -> ((e.loaded, e.rejected)) }
    val bad = want.flatMap { case (t, (loaded, rejected)) =>
      got.get(t) match {
        case None => Some(s"$t: no outcome")
        case Some(o) if o.skipped => Some(s"$t: skipped")
        case Some(o) if o.errors.nonEmpty => Some(s"$t: ${o.errors.mkString(",")}")
        case Some(o) if o.loaded != loaded || o.rejected != rejected =>
          Some(s"$t: loaded ${o.loaded} rejected ${o.rejected}, " +
            s"expected $loaded and $rejected")
        case _ => None
      }
    } ++ (got.keySet -- want.map(_._1)).map(t => s"$t: unexpected outcome")
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  /** Content hash of the snapshots the op commits. */
  private def snapshotHash(): String =
    ("gemeente" +: OpTables).map { t =>
      s"$t=${contentHash(spark.read.parquet(outDir.resolve(t).toString))}"
    }.mkString(",")

  def check(out: AnyRef): Option[String] = {
    val outcomes = out.asInstanceOf[Seq[BagJob.TableOutcome]]
    outcomeMismatch(outcomes, slice(day2)).orElse {
      val h = snapshotHash()
      refHash match {
        case None => refHash = Some(h); None
        case Some(r) if r == h => None
        case Some(_) => Some("committed snapshots differ from the first op's")
      }
    }
  }

  def outputBytesPerInputByte: Double =
    OpTables.flatMap(t => files(outDir.resolve(t)))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum.toDouble / inputBytes

  def stepByStep(tr: Tracer): (AnyRef, Map[String, Double]) = {
    val (outcomes, figures) = load(day2Dir, outDir, OpTables, Some(tr))
    val outFiles = OpTables.flatMap(t => files(outDir.resolve(t)))
      .filter(_.getFileName.toString.endsWith(".parquet"))
    (outcomes, figures ++ Map(
      "pipeline.mb_out" -> outFiles.map(Files.size).sum / 1e6,
      "pipeline.files_out" -> outFiles.size.toDouble))
  }

  /** `BagJob.run`'s steps through the public calls: commit the gemeente
    * seed, take every table's committed snapshot as a parent, then
    * import and commit `tables` of `dataDir` in load order. The import is `ImportPipeline.importTable` taken apart
    * into its public steps, each forced and cached inside its own span
    * (with a tracer), so each layer's figure covers that layer alone:
    * the CSV read, `clean` without its FK checks (parsing and WKT), the
    * FK checks as `clean` runs them, `validate`, and the merge
    * (`mergeAudit` counts and `mergeScd2`, materialised). The manifest's
    * finer counts are checked too; a mismatch becomes an error outcome. */
  private def load(dataDir: Path, into: Path, tables: Seq[String],
      tr: Option[Tracer]): (Seq[BagJob.TableOutcome], Map[String, Double]) = {
    def span[A](name: String)(body: => A): A = tr.fold(body)(_.span(name)(body))
    def forced(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val expect = (if (dataDir == day1Dir) day1 else day2).expect.toMap
    val parents = scala.collection.mutable.Map[String, DataFrame]()
    span("pipeline.commit") {
      ImportPipeline.commitSnapshot(BagTables.gemeenteSeed(spark), into.resolve("gemeente").toString)
    }
    def parent(name: String): DataFrame = parents.getOrElseUpdate(name, snapshot(into, name))
    var csvRows = 0L; var malformed = 0L; var csvBytes = 0L
    var fkProbed = 0L; var fkRejects = 0L; var inserted = 0L; var updated = 0L
    val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]
    val outcomes = BagTables.loadOrder.filter(s => tables.contains(s.name)).map { spec =>
      val path = dataDir.resolve(BagGen.fileName(spec.name))
      val e = expect(spec.name)
      val live = if (Files.exists(into.resolve(spec.name)))
        Some(spark.read.parquet(into.resolve(spec.name).toString)) else None
      val (staged, rejected, report) = span("pipeline.import") {
        val raw = span("sources.read") {
          val r = CsvSource.read(spark, path.toString,
            CsvSource.stringSchema(spec.sourceCols.map(_._1)))
          val bad = r.rejected.count()
          csvRows += r.clean.count() + bad; malformed += bad
          if (bad != e.malformed) mismatches += s"${spec.name}: $bad malformed, expected ${e.malformed}"
          r
        }
        csvBytes += Files.size(path)
        val (parsed, parseRejects) = span("pipeline.clean") {
          val (ok, bad) = ImportPipeline.clean(raw.clean, spec.copy(fks = Nil), Map.empty)
          (forced(ok), bad)
        }
        // the FK checks as clean runs them: in turn, misses to the dead letter
        val (staged, fkBad) = span("ops.Relational.fk") {
          spec.fks.foldLeft((parsed, Seq.empty[DataFrame])) { case ((df, bad), fk) =>
            val p = parent(fk.parentTable)
            fkProbed += df.count()
            val ok = forced(Relational.semiJoinFk(df, fk.childCol, p, fk.parentKeyCol,
              fk.broadcastParent))
            val miss = forced(Relational.fkViolations(df, fk.childCol, p, fk.parentKeyCol,
              fk.broadcastParent).select(col("id"), lit(s"fk_miss:${fk.childCol}").as("reject_reason")))
            (ok, bad :+ miss)
          }
        }
        val report = span("ops.Temporal.validate") { ImportPipeline.validate(staged, live) }
        (staged, (parseRejects +: fkBad).reduce(_ unionByName _), report)
      }
      val reasons = rejected.groupBy("reject_reason").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (reasons != e.reasons)
        mismatches += s"${spec.name}: reject reasons $reasons, expected ${e.reasons}"
      fkRejects += reasons.collect { case (k, n) if k.startsWith("fk_miss:") => n }.sum
      if (report.failed)
        BagJob.TableOutcome(spec.name, 0, reasons.values.sum, report.errors, skipped = false)
      else {
        val (merged, ins, upd) = span("ops.Temporal.merge") {
          live match {
            case Some(l) =>
              val audit = Temporal.mergeAudit(l, staged, "id")
              (forced(Temporal.mergeScd2(l, staged, "id")),
                audit.inserted.count(), audit.updated.count())
            case None => (staged, staged.count(), 0L)
          }
        }
        inserted += ins; updated += upd
        if (ins != e.inserted || upd != e.updated)
          mismatches += s"${spec.name}: inserted $ins updated $upd, " +
            s"expected ${e.inserted} and ${e.updated}"
        span("pipeline.commit") {
          ImportPipeline.commitSnapshot(merged, into.resolve(spec.name).toString)
        }
        val committed = spark.read.parquet(into.resolve(spec.name).toString)
        parents(spec.name) = committed
        BagJob.TableOutcome(spec.name, committed.count(), reasons.values.sum, Nil, skipped = false)
      }
    }
    val all = BagJob.TableOutcome("gemeente", 1, 0, Nil, skipped = false) +: outcomes
    val out = if (mismatches.isEmpty) all
      else all :+ BagJob.TableOutcome("manifest", 0, 0, mismatches.toSeq, skipped = false)
    (out, Map(
      "sources.csv_mb_in" -> csvBytes / 1e6,
      "sources.csv_rows_in" -> csvRows.toDouble,
      "sources.malformed_rows" -> malformed.toDouble,
      "ops.Relational.fk_rows_probed" -> fkProbed.toDouble,
      "ops.Relational.fk_rejects" -> fkRejects.toDouble,
      "ops.Temporal.rows_inserted" -> inserted.toDouble,
      "ops.Temporal.rows_updated" -> updated.toDouble))
  }
}

object BagWorkload {
  /** The extract set: the op's tables and the parent they reference. */
  val Tables: Seq[String] = Seq("buurt", "verblijfsobject")
  /** The tables one op imports, from the restart point on. */
  val OpTables: Seq[String] = Tables.dropWhile(_ != "verblijfsobject")
}

/** Exact then near-duplicate removal over a generated corpus. */
final class CorpusWorkload(spark: SparkSession, work: Path, seed: Long, docs: Int)
    extends Workload {
  import Workloads._

  private val path = work.resolve("docs.parquet")
  private var corpus: CorpusGen.Corpus = _
  private var refHash: Option[Long] = None
  private var lastBytes = 0L
  private lazy val textBytes: Map[Long, Long] =
    corpus.docs.map { case (id, t) => id -> t.length.toLong }.toMap

  def inputRows: Long = corpus.docs.size.toLong

  def generate(): Unit = {
    rmTree(work)
    corpus = CorpusGen.generate(seed, docs)
    import spark.implicits._
    corpus.docs.toDF("id", "text").repartition(4).write.parquet(path.toString)
    Files.writeString(work.resolve("expected_survivors.txt"), corpus.survivors.mkString("", "\n", "\n"))
  }

  private def read(): DataFrame = spark.read.parquet(path.toString)

  /** Every survivor row, forced: (id, hash of its text). */
  private def force(df: DataFrame): Array[(Long, Long)] =
    df.select(col("id"), xxhash64(col("text"))).collect().map(r => (r.getLong(0), r.getLong(1)))

  def op(): AnyRef = {
    val exact = Dedup.deduplicated(read(), "id", "text")
    force(Dedup.nearDupDeduplicated(exact, "id", "text", CorpusGen.K, CorpusGen.Threshold))
  }

  def check(out: AnyRef): Option[String] = {
    val rows = out.asInstanceOf[Array[(Long, Long)]].sortBy(_._1)
    lastBytes = rows.map(r => textBytes.getOrElse(r._1, 0L)).sum
    val ids = rows.map(_._1).toIndexedSeq
    if (ids != corpus.survivors)
      Some(s"${ids.size} survivors, expected ${corpus.survivors.size}; " +
        s"${ids.diff(corpus.survivors).take(5).mkString(",")} unexpected, " +
        s"${corpus.survivors.diff(ids).take(5).mkString(",")} missing")
    else {
      val h = rows.foldLeft(17L)((a, r) => a * 31 + r._2)
      refHash match {
        case None => refHash = Some(h); None
        case Some(r) if r == h => None
        case Some(_) => Some("survivor texts differ from the first op's")
      }
    }
  }

  def outputBytesPerInputByte: Double = lastBytes.toDouble / corpus.textBytes

  def stepByStep(tr: Tracer): (AnyRef, Map[String, Double]) = {
    val exact = tr.span("ops.Dedup.exact") {
      val e = Dedup.deduplicated(read(), "id", "text").cache()
      e.count(); e
    }
    val pairs = tr.span("ops.Dedup.pairs") {
      val p = Dedup.ngramJaccardPairs(exact, "id", "text", CorpusGen.K, CorpusGen.Threshold).cache()
      p.count(); p
    }
    val out = tr.span("ops.Dedup.apply") {
      force(Dedup.dedupByPairs(exact, "id", pairs, "id_a", "id_b"))
    }
    val indexRows = Dedup.shingleIndex(exact, "id", "text", CorpusGen.K).count()
    (out, Map(
      "ops.Dedup.index_rows" -> indexRows.toDouble,
      "ops.Dedup.pairs_out" -> pairs.count().toDouble))
  }
}
