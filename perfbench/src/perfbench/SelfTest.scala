package perfbench

import org.apache.spark.sql.functions.col

import java.nio.file.Path

/** The benchmark's own checks on one workload at a small scale:
  *  1. an intact iteration passes the ground-truth check;
  *  2. the same outputs with one item dropped fail it;
  *  3. in a traced iteration every Spark job is attributed to exactly one
  *     layer span.
  * Prints one `SELFTEST` line per check; returns 0 only if all pass. */
object SelfTest {

  /** (output directory, partition columns, key column) whose rows are the
    * workload's primary result. */
  private def output(name: String, work: Path): (Path, Seq[String], String) = name match {
    case "ingest_cog" => (work.resolve("cog/out/catalog"), Seq("collection"), "id")
    case "ingest_catalog" => (work.resolve("catalog/out/catalog"), Seq("collection"), "id")
    case "curate_corpus" => (work.resolve("curate/out/curated"), Nil, "doc_id")
  }

  def run(o: Map[String, String], work: Path): Int = {
    val name = o("workload")
    val (spark, _) = Main.session(work)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val wl = Main.workload(name, spark, work, o.getOrElse("seed", "1").toLong,
      o.getOrElse("scale", "0.05").toDouble)
    wl.prepare()
    var ok = true
    def report(check: String, pass: Boolean, detail: String): Unit = {
      println(s"SELFTEST $name $check ${if (pass) "ok" else "FAIL"} $detail")
      ok &&= pass
    }

    val plain = new Tracer(spark, enabled = false, listener)
    wl.reset()
    wl.iterate(plain)
    val intact = wl.check(plain)
    report("intact_output_passes", intact.failed == 0,
      s"failed=${intact.failed} ${intact.notes.mkString("; ")}")

    // drop one row of the primary output, rewrite it in place, re-check
    val (dir, parts, key) = output(name, work)
    val rows = spark.read.parquet(dir.toString)
    val victim = rows.select(key).orderBy(key).head().get(0)
    val kept = rows.filter(col(key) =!= victim).localCheckpoint(true)
    Io.deleteTree(dir)
    kept.write.partitionBy(parts: _*).parquet(dir.toString)
    val dropped = wl.check(plain)
    report("dropped_item_fails", dropped.failed >= 1,
      s"dropped $key=$victim failed=${dropped.failed}")

    val tracer = new Tracer(spark, enabled = true, listener)
    tracer.iter = 1
    wl.reset()
    tracer.span("iteration")(wl.iterate(tracer))
    tracer.span("kernels")(wl.kernels(tracer))
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    val spanIds = tracer.spans.map(_.id).toSet
    val jobs = tracer.spans.map(s => listener.statsFor(s.id).jobs).sum
    val stray = LayerMetrics.unattributed(tracer, 1)
    val unknown = listener.synchronized(listener.stats.keySet.filter(_ >= 0).toSet) -- spanIds
    report("jobs_attributed_to_one_layer", jobs > 0 && stray == 0 && unknown.isEmpty,
      s"jobs=$jobs unattributed=$stray unknown_spans=${unknown.size}")
    val traced = wl.check(tracer)
    report("traced_output_matches", traced.failed == 0 && traced.digest == intact.digest,
      s"failed=${traced.failed} digest=${traced.digest} untraced=${intact.digest}")
    spark.stop()
    if (ok) 0 else 1
  }
}
