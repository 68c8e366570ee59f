package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftShim

/** The benchmark's one command:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Sets up the workload's inputs from the seed, runs warm-up ops,
  * then times ops in a closed loop with one client (the next op starts
  * when the previous one has finished and been checked) for `--seconds`
  * and at least [[MinOps]] ops.
  * Every op's output is checked; a failed op is counted and never
  * timed. With `--trace 0` the last line is the end-to-end metrics as
  * JSON, with `--trace 1` the per-layer metrics of a traced run. */
object Main {

  /** Input sizes: as large as a run's time allows (see README.md). */
  val BagIdents = 3000
  val CorpusDocs = 6000

  val SetUpRepeats = 3
  val MinOps = 3
  /** Untimed warm-up ops per workload: the first ops in a fresh JVM
    * run up to 4x slower (JIT). BAG's state build already runs the
    * op's steps once, so one warm-up op is enough there. */
  val WarmUps = Map("bag_incremental" -> 1, "corpus_dedup" -> 2)

  val workloads = Seq("bag_incremental", "corpus_dedup")

  def workload(name: String, spark: SparkSession, work: Path, seed: Long): Workload =
    name match {
      case "bag_incremental" => new BagWorkload(spark, work, seed, BagIdents)
      case "corpus_dedup" => new CorpusWorkload(spark, work, seed, CorpusDocs)
    }

  def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "160000")
      .appName("perfbench")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", "")
    require(workloads.contains(name), s"--workload must be one of ${workloads.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "perfbench/target/work")).toAbsolutePath
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val loadStart = loadAvg()
    Workloads.rmTree(work)
    Files.createDirectories(work)
    val spark = session(work, cpus)
    var exit = 0
    try {
      val result = run(spark, name, work.resolve(name), seed, seconds, traced, cpus)
      val lines = result.metrics.map { case (k, (v, u)) => f"  $k%-34s $v%.6g $u" }
      System.out.println(s"workload $name seed $seed trace ${if (traced) 1 else 0}: " +
        s"${result.attempted} ops attempted, ${result.failed} failed " +
        f"(failed_ops ${result.failed.toDouble / result.attempted}%.3f), " +
        s"${result.samples} timed, loadavg $loadStart -> ${loadAvg()}")
      lines.foreach(l => System.out.println(l))
      result.errors.distinct.take(5).foreach(e => System.out.println(s"  check failed: $e"))
      val metrics = result.metrics.map { case (k, (v, u)) =>
        s""""$k": {"value": ${jsonNumber(v)}, "unit": "$u"}""" }.mkString(", ")
      System.out.println(s"""{"correct": ${result.failed == 0}, "attempted": ${result.attempted}, """ +
        s""""failed": ${result.failed}, "metrics": {$metrics}}""")
    } catch {
      case e: Throwable =>
        System.err.println(s"benchmark aborted: $e")
        e.printStackTrace()
        exit = 1
    } finally spark.stop()
    System.exit(exit)
  }

  case class Result(attempted: Int, failed: Int, samples: Int,
      metrics: Seq[(String, (Double, String))], errors: Seq[String])

  /** Outside the timed window: drop everything an op left persisted and
    * let the ContextCleaner reclaim it. */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def run(spark: SparkSession, name: String, work: Path, seed: Long, seconds: Double,
      traced: Boolean, cpus: Int): Result = {
    val w = workload(name, spark, work, seed)
    val meter = new PeakMemMeter
    spark.sparkContext.addSparkListener(meter)
    var attempted = 0; var failed = 0
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]

    /** One op: prepare, time, check, then `after` outside the timed
      * window. Some(seconds) when the op succeeded. */
    def attempt(after: () => Unit)(body: => AnyRef): Option[Double] = {
      w.prepare(); settle(spark)
      meter.reset()
      attempted += 1
      val t0 = System.nanoTime()
      val outcome = try Right(body) catch { case e: Throwable => Left(e.toString) }
      val s = secondsSince(t0)
      System.err.println(f"[perfbench] op $attempted: $s%.3f s")
      outcome.flatMap(out => w.check(out).toLeft(s)) match {
        case Right(s) => after(); Some(s)
        case Left(err) => failed += 1; errors += err; None
      }
    }
    val nothing = () => ()

    // set-up: the inputs (median of several builds), the state ops
    // start from, and the warm-up ops, never timed: the first op in a
    // JVM runs up to 4x slower, and the next ones still speed up
    val inputs = (1 to (if (traced) 1 else SetUpRepeats)).map { _ =>
      val t0 = System.nanoTime(); w.generate(); secondsSince(t0)
    }
    val t0 = System.nanoTime()
    w.buildState()
    (1 to WarmUps(name)).foreach(_ => attempt(nothing)(w.op()))
    val setUpS = median(inputs) + secondsSince(t0)
    System.err.println(f"[perfbench] set-up: inputs ${inputs.mkString(", ")} s, total $setUpS%.3f s")

    /** Closed loop for `budget` seconds, at least `min` ops. */
    def loop(budget: Double, min: Int, after: () => Unit)(body: => AnyRef): Seq[Double] = {
      val t0 = System.nanoTime()
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var n = 0
      while (n < min || secondsSince(t0) < budget) {
        attempt(after)(body).foreach(times += _)
        n += 1
      }
      times.toSeq
    }

    if (!traced) {
      val peaks = scala.collection.mutable.ArrayBuffer.empty[Double]
      val ratios = scala.collection.mutable.ArrayBuffer.empty[Double]
      val times = loop(seconds, MinOps, () => {
        GraftShim.drainListenerBus(spark.sparkContext, 15000L)
        peaks += meter.peakBytes / 1e6
        ratios += w.outputBytesPerInputByte
      })(w.op())
      val jobS = median(times)
      Result(attempted, failed, times.size, Seq(
        "job_s" -> (jobS, "s"),
        "rows_per_s" -> (w.inputRows / jobS, "1/s"),
        "setup_s" -> (setUpS, "s"),
        "peak_exec_mem_mb" -> (median(peaks), "MB"),
        "stored_bytes_per_input_byte" -> (median(ratios), "ratio")), errors.toSeq)
    } else {
      // untraced and traced ops in ABBA order, so the ops' remaining
      // warm-up drift falls on both sides of the overhead equally
      val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
      val tracedTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
      val tr = new Tracer(spark)
      var engine = Map.empty[String, Double]
      Seq(false, true, true, false).foreach { traceOp =>
        if (!traceOp) attempt(nothing)(w.op()).foreach(untraced += _)
        else {
          var opSpan: Span = null
          tr.attach()
          attempt(() => { tr.drain(); engine = Layers.engine(tr, opSpan, cpus) }) {
            tr.clear()
            val t0 = System.currentTimeMillis()
            val out = w.op()
            opSpan = Span("op", t0, System.currentTimeMillis())
            out
          }.foreach(tracedTimes += _)
          tr.detach()
        }
      }
      tr.attach()
      tr.clear()
      var figures = Map.empty[String, Double]
      attempt(nothing) {
        val (out, f) = w.stepByStep(tr)
        figures = f
        out
      }
      tr.detach()
      val all = engine ++ Layers.steps(tr) ++ figures ++ Map(
        "trace.job_s" -> median(tracedTimes),
        "trace.untraced_job_s" -> median(untraced),
        "trace.overhead_s" -> (median(tracedTimes) - median(untraced)))
      Result(attempted, failed, tracedTimes.size,
        Layers.names.map(n => n -> (all.getOrElse(n, 0.0), Layers.unit(n))), errors.toSeq)
    }
  }
}
