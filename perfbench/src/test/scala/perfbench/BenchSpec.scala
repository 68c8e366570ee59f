package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.BagTables
import graft.ops.Dedup
import graft.pipeline.{BagJob, ImportPipeline}

/** The benchmark's own generators and checks, at tiny scale. */
class BenchSpec extends AnyFunSuite {

  private def scratch(name: String): Path = {
    val root = Paths.get("target", "spec").toAbsolutePath
    Files.createDirectories(root)
    Files.createTempDirectory(root, name)
  }

  lazy val spark: SparkSession = Main.session(scratch("spark"), 4)

  private def lines(dir: Path, table: String): Seq[String] =
    Files.readAllLines(dir.resolve(BagGen.fileName(table))).asScala.toSeq

  private val Idents = 600

  test("the same seed gives byte-identical extracts, another seed does not") {
    val a = BagGen.generate(7, Idents, 1, scratch("a"))
    val b = BagGen.generate(7, Idents, 1, scratch("b"))
    val c = BagGen.generate(8, Idents, 1, scratch("c"))
    BagGen.AllTables.foreach { t =>
      val fa = Files.readAllBytes(a.dir.resolve(BagGen.fileName(t)))
      assert(java.util.Arrays.equals(fa, Files.readAllBytes(b.dir.resolve(BagGen.fileName(t)))), t)
    }
    assert(a.expect == b.expect && a.csvBytes == b.csvBytes)
    assert(Files.readString(a.dir.resolve("manifest.json")) ==
      Files.readString(b.dir.resolve("manifest.json")))
    assert(lines(a.dir, "pand") != lines(c.dir, "pand"))
  }

  test("day 2 keeps every day-1 row; only closed open versions change") {
    val d1 = BagGen.generate(3, Idents, 1, scratch("d1"))
    val d2 = BagGen.generate(3, Idents, 2, scratch("d2"))
    BagTables.loadOrder.foreach { spec =>
      val eind = spec.sourceCols.map(_._1).indexOf("eindGeldigheid")
      def rows(dir: Path) = lines(dir, spec.name).drop(1).map { l =>
        val f = l.split(";", -1).toSeq
        (f(0), f(1)) -> f
      }
      val day1 = rows(d1.dir)
      val day2 = rows(d2.dir).toMap
      var closed = 0
      day1.foreach { case (key, f) =>
        val g = day2.get(key)
        assert(g.isDefined, s"${spec.name} $key missing on day 2")
        if (g.get != f) {
          assert(f(eind) == "" && g.get(eind) != "" &&
            g.get.patch(eind, Nil, 1) == f.patch(eind, Nil, 1), s"${spec.name} $key")
          closed += 1
        }
      }
      val e1 = d1.expect.toMap.apply(spec.name)
      val e2 = d2.expect.toMap.apply(spec.name)
      assert(closed == e2.updated, spec.name)
      assert(e2.loaded == e1.loaded + e2.inserted, spec.name)
      assert(e2.rejected == e1.rejected && e2.malformed == e1.malformed, spec.name)
      assert(day2.size > day1.size, spec.name)
    }
  }

  test("BagJob.run reproduces the manifest, and so does the step-by-step op") {
    // buildState loads day 1 and throws when it misses its manifest
    val w = new BagWorkload(spark, scratch("bag"), 5, Idents)
    w.generate(); w.buildState()
    w.prepare()
    assert(w.check(w.op()).isEmpty)
    // the step-by-step op checks malformed lines, reject reasons and the
    // merge audit, and must commit exactly what the op committed
    w.prepare()
    val tr = new Tracer(spark)
    tr.attach()
    val (out, figures) = w.stepByStep(tr)
    tr.detach()
    assert(w.check(out).isEmpty)
    assert(figures("sources.malformed_rows") > 0 && figures("ops.Relational.fk_rejects") > 0)
    assert(figures("ops.Temporal.rows_updated") > 0)
    val steps = Layers.steps(tr)
    Seq("sources.busy_s", "pipeline.clean_s", "ops.Relational.busy_s", "ops.Temporal.validate_s",
      "ops.Temporal.merge_s", "pipeline.commit_s").foreach(m => assert(steps(m) > 0, m))
    // the validate span holds validate's own actions only: staged is filled before it
    val validate = tr.spans.filter(_.name == "ops.Temporal.validate").flatMap(tr.within)
    assert(validate.nonEmpty && validate.forall(_.frame == "graft.pipeline.ImportPipeline.validate"))
  }

  test("the BAG check catches a wrong count and a changed snapshot") {
    val w = new BagWorkload(spark, scratch("wrong"), 5, Idents)
    w.generate(); w.buildState()
    w.prepare()
    val out = w.op().asInstanceOf[Seq[BagJob.TableOutcome]]
    assert(w.check(out).isEmpty)
    val table = BagWorkload.OpTables.head
    val fewer = out.map(o => if (o.name == table) o.copy(loaded = o.loaded - 1) else o)
    assert(w.check(fewer).exists(_.contains(table)))
    // the same outcomes over a snapshot that lost a row: the hash differs
    val committed = w.outDir.resolve(table).toString
    val kept = scratch("kept").resolve(table).toString
    spark.read.parquet(committed).orderBy("id").offset(1).write.parquet(kept)
    ImportPipeline.commitSnapshot(spark.read.parquet(kept), committed)
    assert(w.check(out).exists(_.contains("differ")))
  }

  test("the corpus's expected survivors match Dedup") {
    import spark.implicits._
    Seq(11L, 12L).foreach { seed =>
      val c = CorpusGen.generate(seed, 1500)
      assert(c.exactCopies > 0 && c.nearCopies > 0)
      assert(CorpusGen.generate(seed, 1500) == c)
      val exact = Dedup.deduplicated(c.docs.toDF("id", "text"), "id", "text")
      val got = Dedup.nearDupDeduplicated(exact, "id", "text", CorpusGen.K, CorpusGen.Threshold)
        .select(col("id")).as[Long].collect().sorted.toIndexedSeq
      assert(got == c.survivors)
      assert(c.survivors.size <= c.docs.size - c.exactCopies - c.nearCopies)
    }
  }

  test("call sites map to the innermost graft frame") {
    val details = Seq(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
      "graft.pipeline.ImportPipeline$.$anonfun$validate$2(ImportPipeline.scala:130)",
      "graft.pipeline.BagJob$.run(BagJob.scala:70)",
      "perfbench.Main$.main(Main.scala:1)").mkString("\n")
    assert(Tracer.frame(details) == "graft.pipeline.ImportPipeline.validate")
    assert(Tracer.frame("perfbench.CorpusWorkload.force(Workloads.scala:9)") ==
      "perfbench.CorpusWorkload.force")
    assert(Tracer.frame("") == "unknown")
  }
}
