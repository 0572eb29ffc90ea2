package perfbench

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Counts ERROR (and worse) log events of the whole JVM. */
final class ErrorCounter
    extends AbstractAppender("perfbench-errors", null, null, true, Property.EMPTY_ARRAY) {
  val count = new java.util.concurrent.atomic.AtomicLong()
  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) count.incrementAndGet()
}

/** The benchmark's JVM entry point (launched by `perfbench/run.py`).
  *
  * Modes:
  *  - `run`: generate a workload's inputs, run its closed loop (one
  *    client: this program) and print one `PERFBENCH_RESULT` JSON line
  *  - `gen`: write a workload's inputs and ground truth to `--work`
  *  - `selftest`: the benchmark's own checks (see run.py --self-test)
  */
object Main {

  private def opts(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap

  private val errors = new ErrorCounter

  private def installErrorCounter(): Unit = {
    val ctx = LoggerContext.getContext(false)
    errors.start()
    ctx.getConfiguration.getRootLogger.addAppender(errors, Level.ERROR, null)
    ctx.updateLoggers()
  }

  /** Session + graft registration; returns it with the seconds since JVM
    * start. */
  def session(work: Path): (SparkSession, Double) = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftFunctions.register(spark)
    val since = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    (spark, since)
  }

  def workload(name: String, spark: SparkSession, work: Path, seed: Long,
               scale: Double): Workload = name match {
    case "ingest_cog" => new IngestCog(spark, work, seed, scale)
    case "ingest_catalog" => new IngestCatalog(spark, work, seed, scale)
    case "curate_corpus" => new CurateCorpus(spark, work, seed, scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Fixed CPU canary (the `graft.Bench` one): host contention context.
    * Its own job group keeps its rows out of the workload's counts. */
  private def canary(t: Tracer): Double = t.outside("canary") {
    val t0 = System.nanoTime()
    t.spark.range(20000000L).selectExpr("sum(xxhash64(id * 2654435761))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** Compact JSON for flat maps of numbers. */
  private def json(m: collection.Map[String, Any]): String = m.map {
    case (k, v: Double) => s""""$k":${if (v.isNaN || v.isInfinite) "0" else v.toString}"""
    case (k, v: Long) => s""""$k":$v"""
    case (k, v: Int) => s""""$k":$v"""
    case (k, v: Boolean) => s""""$k":$v"""
    case (k, v: collection.Map[_, _]) =>
      s""""$k":${json(v.asInstanceOf[collection.Map[String, Any]])}"""
    case (k, v) => s""""$k":"${v.toString.replace("\\", "\\\\").replace("\"", "'")}""""
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val o = opts(args)
    val work = Paths.get(o.getOrElse("work", ".bench_work")).toAbsolutePath
    Files.createDirectories(work)
    installErrorCounter()
    val code = o.getOrElse("mode", "run") match {
      case "run" => run(o, work)
      case "gen" => gen(o, work)
      case "selftest" => SelfTest.run(o, work)
      case m => System.err.println(s"unknown mode $m"); 2
    }
    System.exit(code)
  }

  private def gen(o: Map[String, String], work: Path): Int = {
    val seed = o("seed").toLong
    val scale = o.getOrElse("scale", "1").toDouble
    val lines = o("workload") match {
      case "ingest_cog" =>
        Gen.rasters(work.resolve("rasters"), seed, Gen.Sizes.rasters(scale))
          .map(_.toString)
      case "ingest_catalog" =>
        val c = Gen.catalog(work.resolve("catalog"), seed,
          Gen.Sizes.inventory(scale), Gen.Sizes.products(scale))
        c.collections.flatMap(k => c.bulk(k) ++ c.reinv(k)).map(_.toString) ++
          c.changed.toSeq.sorted ++ c.products.map(_.toString)
      case "curate_corpus" =>
        val docs = Gen.corpus(seed, Gen.Sizes.docs(scale), Gen.Sizes.boilerplate(scale))
        Gen.writeCorpus(work.resolve("docs.jsonl"), docs)
        docs.map(_.toString)
    }
    Gen.writeString(work.resolve("truth.txt"), lines.mkString("\n"))
    0
  }

  private def run(o: Map[String, String], work: Path): Int = {
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val (spark, setupS) = session(work)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    graft.Materializer.set(CountingMaterializer)
    val wl = workload(name, spark, work, seed, scale = 1.0)
    val prep0 = System.nanoTime()
    wl.prepare()
    val prepS = (System.nanoTime() - prep0) / 1e9
    val plain = new Tracer(spark, enabled = false, listener)
    canary(plain) // untimed: its own codegen and JIT warm-up
    val canaryBefore = canary(plain)

    var attempted = 0L
    var failed = 0L
    var digest: Option[String] = None
    val notes = mutable.ArrayBuffer.empty[String]
    var consecutiveErrors = 0
    var untimedS = 0.0 // resets and checks

    /** One iteration: reset, run, check. Returns its phase seconds, or
      * None when it threw (all of its operations count as failed). */
    def once(t: Tracer, label: String): Option[Map[String, Double]] = {
      val r0 = System.nanoTime()
      wl.reset()
      untimedS += (System.nanoTime() - r0) / 1e9
      attempted += wl.ops
      try {
        val reuse0 = CountingMaterializer.calls.get()
        val phases = t.span("iteration")(wl.iterate(t))
        t.count("materializer.calls", (CountingMaterializer.calls.get() - reuse0).toDouble)
        if (t.enabled) t.span("kernels")(wl.kernels(t))
        val c0 = System.nanoTime()
        val c = t.outside("check")(wl.check(t))
        untimedS += (System.nanoTime() - c0) / 1e9
        failed += c.failed
        notes ++= c.notes.map(n => s"$label: $n")
        digest match {
          case None => digest = Some(c.digest)
          case Some(d) if d != c.digest =>
            failed += wl.ops
            notes += s"$label: output digest ${c.digest} differs from first iteration's $d"
          case _ =>
        }
        consecutiveErrors = 0
        Some(phases)
      } catch {
        case e: Exception =>
          failed += wl.ops
          consecutiveErrors += 1
          notes += s"$label: iteration failed: $e"
          e.printStackTrace()
          None
      }
    }

    val first = once(plain, "first")
    val firstS = first.map(_("iter_s")).getOrElse(0.0)

    /** `n` iterations (fewer only if they keep failing or run far over
      * the time the command may take). */
    def loop(t: Tracer, n: Int, label: String): Seq[Map[String, Double]] = {
      val out = mutable.ArrayBuffer.empty[Map[String, Double]]
      val wall0 = System.nanoTime()
      var k = 0
      while (k < n && consecutiveErrors < 2 && (System.nanoTime() - wall0) / 1e9 < 90) {
        k += 1
        t.iter = k
        once(t, s"$label$k").foreach(out += _)
      }
      out.toSeq
    }

    // the iteration count follows from --seconds and the workload's
    // nominal iteration time, so both commits of a comparison time the
    // same number of iterations
    def count(budget: Double, min: Int) = math.max(min, math.round(budget / wl.nominalIterS).toInt)
    val timed =
      if (traced) loop(plain, count(seconds / 2, 2), "iter")
      else loop(plain, count(seconds, wl.minTimedIterations), "iter")
    val tracer = new Tracer(spark, enabled = true, listener)
    val tracedIters =
      if (traced) loop(tracer, count(seconds / 2, 1), "traced") else Nil
    val canaryAfter = canary(plain)
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)

    def med(xs: Seq[Double]) = Stats.median(xs)
    def rate(ps: Seq[Map[String, Double]], num: String, den: String) =
      med(ps.filter(_.contains(num)).map(p => p(num) / p(den)))
    val ops = wl.ops.toDouble
    val endToEnd = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "ops_per_s" -> med(timed.map(p => ops / p("iter_s"))),
      "first_iter_s" -> firstS,
      "peak_rss_mb" -> vmHwmMb())

    val perLayer = mutable.LinkedHashMap[String, Any]()
    perLayer("items_per_s") = rate(timed, "items",
      if (name == "ingest_catalog") "bulk_s" else "iter_s")
    perLayer("reingest_items_per_s") = rate(timed, "reingest_items", "reingest_s")
    perLayer("docs_per_s") = rate(timed, "docs", "iter_s")
    perLayer("ops_failed_frac") = failed.toDouble / math.max(1L, attempted)
    perLayer("host.canary_s") = (canaryBefore + canaryAfter) / 2
    perLayer("spark.error_events") = errors.count.get().toDouble
    if (traced) {
      perLayer ++= LayerMetrics.of(tracer, timed, tracedIters,
        spark.sparkContext.defaultParallelism)
      // untraced iterations (first + timed) run with no job group: their
      // input records show how often the pipeline re-reads its inputs
      perLayer("spark.input_rows_read_per_row") = listener.statsFor(-1).inputRecords.toDouble /
        math.max(1L, (1 + timed.size) * wl.ops)
    }
    Files.writeString(work.resolve(s"trace-$name.jsonl"), tracer.dump() + "\n")

    notes.take(20).foreach(n => System.err.println(s"[perfbench] $n"))
    System.err.println(f"[perfbench] canary $canaryBefore%.3f/$canaryAfter%.3f s, " +
      f"setup $setupS%.2f s, prepare $prepS%.2f s, resets+checks $untimedS%.2f s, first " +
      f"$firstS%.2f s, timed ${timed.map(_("iter_s")).mkString(" ")}, traced " +
      tracedIters.map(_("iter_s")).mkString(" "))
    println("PERFBENCH_RESULT " + json(mutable.LinkedHashMap[String, Any](
      "workload" -> name, "correct" -> (failed == 0 && timed.nonEmpty),
      "attempted" -> attempted, "failed" -> failed,
      "timed_iterations" -> timed.size.toLong, "traced_iterations" -> tracedIters.size.toLong,
      "end_to_end" -> endToEnd, "per_layer" -> perLayer)))
    spark.stop()
    0
  }
}

/** Per-layer metrics from the traced iterations: medians over traced
  * iterations of self time, counters and Spark task totals. */
object LayerMetrics {
  val LayerSpans: Seq[String] = Seq("cogify", "raster_scan", "discover", "build",
    "multiasset", "publish", "transfer", "upsert", "gate", "exact_dedup",
    "near_dedup", "curate", "expr.extract_dates", "expr.cmr_geometry",
    "expr.minhash", "classify", "plan")

  val Counters: Seq[String] = Seq("cogify.files", "cogify.errors", "cogify.mb_in",
    "cogify.mb_out", "discover.rows_out", "cmr.pages", "cmr.granules",
    "build.items", "build.quarantined", "publish.mb_written",
    "publish.files_written", "publish.bytes_per_item", "transfer.eligible",
    "transfer.skipped", "upsert.replaced", "upsert.mb_rewritten",
    "upsert.write_amplification", "gate.docs_out", "exact_dedup.removed",
    "near_dedup.candidate_pairs", "near_dedup.confirmed_pairs",
    "near_dedup.recall", "near_dedup.removed", "near_dedup.lost_to_cap")

  def of(t: Tracer, timed: Seq[Map[String, Double]],
         traced: Seq[Map[String, Double]], cores: Int): Map[String, Double] = {
    val iters = traced.indices.map(_ + 1)
    def med(f: Int => Double) = Stats.median(iters.map(f))
    def skew(s: SparkStats) = s.heaviestStageSkew
    val m = mutable.LinkedHashMap.empty[String, Double]
    LayerSpans.foreach(n => m(s"$n.s") = med(i => t.selfSeconds(i).getOrElse(n, 0.0)))
    Counters.foreach(n => m(n) = med(i => t.countOf(i, n)))
    m("transfer.skip_ratio") = med(i =>
      t.countOf(i, "transfer.skipped") / math.max(1.0, t.countOf(i, "transfer.eligible")))
    m("near_dedup.pair_precision") = med(i =>
      t.countOf(i, "near_dedup.confirmed_pairs") /
        math.max(1.0, t.countOf(i, "near_dedup.candidate_pairs")))
    m("cogify.task_max_over_median") = med(i => skew(t.sparkOf(i, "cogify")))
    m("near_dedup.pair_stage_max_over_median") =
      med(i => skew(t.sparkOf(i, "near_dedup.candidates")))
    m("multiasset.shuffle_mb") = med(i => t.sparkOf(i, "multiasset").shuffleWriteBytes / 1e6)
    def iterWall(i: Int) = t.spansOf(i).filter(s => s.name == "iteration" && s.parent < 0)
      .map(_.seconds).sum
    def pipeline(i: Int) = t.sparkOf(i, "iteration")
    m("spark.jobs") = med(i => pipeline(i).jobs.toDouble)
    m("spark.stages") = med(i => pipeline(i).stages.toDouble)
    m("spark.tasks") = med(i => pipeline(i).tasks.toDouble)
    m("spark.task_s") = med(i => pipeline(i).taskMs / 1e3)
    m("spark.gc_s") = med(i => pipeline(i).gcMs / 1e3)
    m("spark.shuffle_write_mb") = med(i => pipeline(i).shuffleWriteBytes / 1e6)
    m("spark.shuffle_read_mb") = med(i => pipeline(i).shuffleReadBytes / 1e6)
    m("spark.spill_mb") = med(i => pipeline(i).spillBytes / 1e6)
    m("spark.core_idle_frac") = med(i =>
      1 - pipeline(i).taskMs / 1e3 / math.max(1e-9, iterWall(i) * cores))
    m("spark.stage_max_over_median") = med(i => skew(pipeline(i)))
    m("materializer.calls") = med(i => t.countOf(i, "materializer.calls"))
    val untracedMed = Stats.median(timed.map(_("iter_s")))
    m("trace.overhead_frac") = med(i => iterWall(i)) / math.max(1e-9, untracedMed) - 1
    m("trace.unattributed_jobs") = iters.map(i => unattributed(t, i)).sum.toDouble
    m.toMap
  }

  /** Jobs of a traced iteration attributed to no layer span: jobs with
    * no job group submitted while the iteration ran, plus jobs owned by
    * the root `iteration`/`kernels` or phase spans, which do no work of
    * their own. */
  def unattributed(t: Tracer, i: Int): Long = {
    val roots = Set("iteration", "bulk", "reingest", "kernels")
    val ss = t.spansOf(i)
    val windows = ss.filter(_.parent < 0).map(s => (s.startMs, s.endMs))
    val orphans = t.listener.synchronized(t.listener.orphanJobTimes.toList)
      .count(ms => windows.exists { case (a, b) => ms >= a && ms <= b })
    orphans + ss.filter(s => roots(s.name)).map(s => t.listener.statsFor(s.id).jobs).sum
  }
}
