package perfbench

import graft.Materializer
import graft.llm.{Classifier, Clean, Curate, Dedup}
import graft.model.PipelineEvent
import graft.operators.{CatalogOps, Cogify, MultiAsset, Publish, StacBuilder, Transfer}
import graft.pipeline.{EventJson, Runner}
import graft.sources.{Cmr, Discovery, GeoTiff}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Outcome of checking one iteration's outputs against the generator's
  * ground truth: operations whose outcome differs, plus a digest of the
  * outputs that must repeat across iterations of one run. */
final case class Checked(failed: Long, digest: String, notes: Seq[String])

/** One benchmark workload: inputs are generated once by [[prepare]];
  * every iteration starts from [[reset]] (untimed), runs [[iterate]]
  * (timed; its phase seconds are returned by name) and is verified by
  * [[check]] (untimed). */
trait Workload {
  /** Typical warm iteration seconds on a 4-core host: fixes how many
    * iterations a run of a given length times, the same on every commit. */
  def nominalIterS: Double
  /** Fewest timed iterations of an untraced run. */
  def minTimedIterations: Int
  /** Operations (files, inventory rows + granules, documents) per
    * iteration; each is one input row. */
  def ops: Long
  def prepare(): Unit
  def reset(): Unit
  def iterate(t: Tracer): Map[String, Double]
  /** Traced only: stand-alone kernel/diagnostic spans after the pipeline. */
  def kernels(t: Tracer): Unit = ()
  def check(t: Tracer): Checked
}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst)
    }

  /** (file count, bytes) of the data files under `p`. */
  def dataFiles(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))
      .map(f => f.toString -> Files.size(f)).toMap

  def sha(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  def uri(p: Path): String = p.toAbsolutePath.toUri.toString
}

/** Counts reuse-point materializations while delegating to the default
  * lazy local checkpoint. */
object CountingMaterializer extends Materializer.Strategy {
  val calls = new java.util.concurrent.atomic.AtomicLong()
  override def materialize(df: DataFrame, site: String): DataFrame = {
    calls.incrementAndGet()
    Materializer.LocalCheckpoint.materialize(df, site)
  }
}

/** Hands [[Cogify.RasterCogTransform]] a `file://` url. The S1 listing
  * yields Hadoop's `file:/path` form, which RasterCogTransform does not
  * strip (it only strips `file://`), so without this adapter every listed
  * local file fails to open and lands in `cog_error`. */
final class LocalUrlTransform(inner: Cogify.FileTransform)
    extends Cogify.FileTransform {
  def toCog(url: String, collection: String,
            config: Cogify.CollectionConfig): String = {
    val local =
      if (url.startsWith("file:/") && !url.startsWith("file://"))
        "file://" + url.stripPrefix("file:")
      else url
    inner.toCog(local, collection, config)
  }
}

// ---------------------------------------------------------------- ingest_cog

/** S1 listing over generated rasters → Cogify (RasterCogTransform) →
  * regex STAC build → raster enrichment → catalog publish. */
final class IngestCog(spark: SparkSession, work: Path, seed: Long, scale: Double)
    extends Workload {
  import spark.implicits._

  val nominalIterS = 3.3
  val minTimedIterations = 3
  private val n = Gen.Sizes.rasters(scale)
  private val pristine = work.resolve("cog/pristine")
  private val data = work.resolve("cog/data")
  private val out = work.resolve("cog/out")
  private val catalog = out.resolve("catalog")
  private val quarantine = out.resolve("quarantine")
  private var truth: Seq[Gen.Raster] = Nil
  def ops: Long = truth.size.toLong

  private def event: PipelineEvent = EventJson.parse(
    s"""{"collection":"bench_cog","discovery":"s3","bucket":"${Io.uri(data)}",
       |"prefix":"","filename_regex":".*\\\\.(?:tif|he5)","cogify":true,
       |"upload":false}""".stripMargin)
  private val configs = Map("bench_cog" -> Cogify.CollectionConfig(
    variableName = Some("sst"), xVariable = Some("lon"), yVariable = Some("lat")))
  private val transform = new LocalUrlTransform(new Cogify.RasterCogTransform())

  def prepare(): Unit = {
    Io.deleteTree(work.resolve("cog"))
    truth = Gen.rasters(pristine, seed, n)
  }

  def reset(): Unit = {
    Io.deleteTree(data); Io.deleteTree(out)
    Io.copyTree(pristine, data)
  }

  def iterate(t: Tracer): Map[String, Double] = {
    val t0 = System.nanoTime()
    val ev = event
    val objs = t.layer("discover", d => t.count("discover.rows_out", d.count().toDouble)) {
      Discovery.listing(spark, ev)
    }
    val cog = t.layer("cogify", d => {
      t.count("cogify.files", d.count().toDouble)
      t.count("cogify.errors", d.filter(col("cog_error").isNotNull).count().toDouble)
    }) {
      Materializer(Cogify.run(objs, transform, configs), "perfbench_cog_outcomes")
    }
    t.span("quarantine") {
      cog.filter(col("cog_error").isNotNull)
        .select(col("remote_fileurl"), col("cog_error"))
        .write.mode(SaveMode.Append).json(quarantine.toString)
    }
    val built = t.layer("build", d => {
      t.count("build.items", d.filter(!col("datetime_error")).count().toDouble)
      t.count("build.quarantined", d.filter(col("datetime_error")).count().toDouble)
    }) {
      StacBuilder.regexItems(cog.filter(col("cog_error").isNull).drop("cog_error"), ev)
    }
    val scans = t.layer("raster_scan") {
      GeoTiff.scanMetadata(graft.llm.Multimodal.readMedia(spark, Io.uri(data), "*.tif"))
        .map(s => s.copy(path = s.path.stripPrefix("file:")))
        .toDF()
    }
    val items = StacBuilder.enrichWithRaster(
      built.filter(!col("datetime_error")).drop("datetime_error"),
      scans.as[GeoTiff.ScanResult])
    t.span("publish") { Publish.toCatalog(items, catalog.toString) }
    if (t.enabled) {
      val files = Io.dataFiles(catalog)
      t.count("publish.files_written", files.size)
      t.count("publish.mb_written", files.values.sum / 1e6)
      t.count("publish.bytes_per_item", files.values.sum.toDouble / truth.count(_.ok))
      t.count("cogify.mb_in", truth.map(_.bytes).sum / 1e6)
      t.count("cogify.mb_out", truth.filter(_.ok).map { r =>
        val p = data.resolve(r.rel.replaceAll("\\.[^.]+$", ".tif"))
        if (Files.exists(p)) Files.size(p) else 0L
      }.sum / 1e6)
    }
    val s = (System.nanoTime() - t0) / 1e9
    Map("iter_s" -> s, "items" -> truth.count(_.ok).toDouble)
  }

  def check(t: Tracer): Checked = {
    val rows = spark.read.parquet(catalog.toString)
      .select(col("id"), col("properties").getItem("proj:shape"),
        col("properties").getItem("raster:bands"),
        col("properties").getItem("raster:bits_per_sample"),
        date_format(col("datetime"), "yyyy-MM-dd"))
      .collect().map(r => r.getString(0) -> (1 to 4).map(r.getString))
    val items = rows.toMap
    val qRows = if (!Files.exists(quarantine)) Array.empty[String]
      else spark.read.json(quarantine.toString).select("remote_fileurl").collect()
        .map(_.getString(0).split('/').last.replaceAll("\\.[^.]+$", ""))
    val quarantined = qRows.toSet
    val notes = Seq.newBuilder[String]
    // duplicated items or quarantine rows are failures too
    var failed = (rows.length - items.size + qRows.length - quarantined.size).toLong
    truth.foreach { r =>
      val ok =
        if (r.ok)
          items.get(r.id).exists { case Seq(shape, bands, bits, day) =>
            shape == s"${r.height},${r.width}" && bands == r.bands.toString &&
              bits == (if (r.bands == 3) "8" else "32") && day == r.id.takeRight(10)
          } && !quarantined(r.id)
        else quarantined(r.id) && !items.contains(r.id)
      if (!ok) {
        failed += 1
        notes += s"${r.rel} (${r.kind}): item=${items.get(r.id)} quarantined=${quarantined(r.id)}"
      }
    }
    val extra = items.keySet -- truth.map(_.id)
    failed += extra.size
    val digest = Io.sha(items.toSeq.sortBy(_._1).map { case (k, v) => (k +: v).mkString("|") } ++
      quarantined.toSeq.sorted)
    Checked(failed, digest, notes.result().take(5))
  }
}

// ---------------------------------------------------------------- ingest_catalog

/** Bulk phase: S2 inventory events (3 collections, one holding half the
  * rows, ~2% bad date tokens) and a CMR page event with multi-asset
  * grouping append into a fresh catalog. Re-ingest phase: re-inventories
  * overlapping 90% with the bulk ones go through transfer-skip and
  * CatalogOps.upsert. */
final class IngestCatalog(spark: SparkSession, work: Path, seed: Long,
                          scale: Double) extends Workload {
  val nominalIterS = 6.0
  // a third iteration did not narrow the ten-seed spread here (0.10 with
  // two, 0.14 with three) and costs 6 s of every run
  val minTimedIterations = 2
  private val nInventory = Gen.Sizes.inventory(scale)
  private val nProducts = Gen.Sizes.products(scale)
  private val in = work.resolve("catalog/in")
  private val out = work.resolve("catalog/out")
  private val catalog = out.resolve("catalog")
  private val quarantine = out.resolve("quarantine")
  private val targetBucket = "s3://bench-target"
  private var truth: Gen.Catalog = _
  private var bulkChecked: Checked = Checked(0, "", Nil)
  private var replaced = -1L

  private def bulkRows = truth.bulk.values.map(_.size).sum.toLong
  private def reinvRows = truth.reinv.values.map(_.size).sum.toLong
  def ops: Long = bulkRows + truth.granules + reinvRows

  private def invEvent(coll: String, csv: Path): PipelineEvent = EventJson.parse(
    s"""{"collection":"$coll","discovery":"inventory","inventory_url":"${Io.uri(csv)}",
       |"file_url_key":"s3_path","metadata_file_url_key":"meta_path",
       |"metadata_type":"metadata","id_regex":"${Gen.IdRegex}","upload":true,
       |"properties":{"platform":"bench","processing_level":"L2"}}""".stripMargin)

  private def cmrEvent: PipelineEvent = EventJson.parse(
    s"""{"collection":"${Gen.CmrCollection}","discovery":"cmr","limit":${Gen.PageSize},
       |"data_file":"B01.tif","data_file_regex":"${Gen.DataFileRegex}"}""".stripMargin)

  def prepare(): Unit = {
    Io.deleteTree(work.resolve("catalog"))
    truth = Gen.catalog(in, seed, nInventory, nProducts)
  }

  def reset(): Unit = { Io.deleteTree(out); replaced = -1L }

  private def existingKeys: DataFrame =
    spark.read.option("header", "true").csv(in.resolve("targets").toString)

  /** Runner.run's stages as separate layer calls (traced run). */
  private def tracedInventory(t: Tracer, ev: PipelineEvent,
                              transfer: Boolean): DataFrame = {
    var objs = t.layer("discover", d => t.count("discover.rows_out", d.count().toDouble)) {
      Runner.discover(spark, ev)
    }
    if (transfer) {
      val in = objs
      objs = t.layer("transfer", d => {
        val eligible = in.filter(Transfer.eligible).count()
        t.count("transfer.eligible", eligible.toDouble)
        t.count("transfer.skipped", (in.count() - d.count()).toDouble)
      }) {
        // Runner.run's transfer stage
        val planned = Transfer.plan(in, targetBucket)
        val kept = Transfer.skipExisting(planned.filter(col("transfer_eligible")), existingKeys)
        planned.filter(!col("transfer_eligible")).unionByName(kept)
          .drop("transfer_eligible", "target_key", "target_url")
      }
    }
    t.layer("build", d => {
      t.count("build.items", d.filter(!col("datetime_error")).count().toDouble)
      t.count("build.quarantined", d.filter(col("datetime_error")).count().toDouble)
    })(StacBuilder.regexItems(objs, ev))
  }

  def iterate(t: Tracer): Map[String, Double] = {
    val evs = truth.collections.map(c => invEvent(c, in.resolve(s"inventory/$c.csv")))
    val reEvs = truth.collections.map(c => invEvent(c, in.resolve(s"reinventory/$c.csv")))
    val pages = in.resolve("cmr").toString
    val t0 = System.nanoTime()
    t.span("bulk") {
      if (!t.enabled) {
        evs.foreach(ev => Runner.runToCatalog(spark, ev, catalog.toString, quarantine.toString))
        Runner.runToCatalog(spark, cmrEvent, catalog.toString, quarantine.toString,
          Runner.RunContext(granulePagesDir = Some(pages)))
      } else {
        evs.foreach { ev =>
          val built = tracedInventory(t, ev, transfer = false)
          t.span("publish") {
            Publish.toCatalog(built.filter(!col("datetime_error")).drop("datetime_error"),
              catalog.toString)
            built.filter(col("datetime_error")).drop("datetime_error")
              .write.mode(SaveMode.Append).json(quarantine.toString)
          }
        }
        val ev = cmrEvent
        t.count("cmr.pages", truth.pages)
        val granules = t.layer("cmr", d => t.count("cmr.granules", d.count().toDouble)) {
          Cmr.pagedGranules(spark, pages, ev.limit)
        }
        val objs = t.layer("discover", d => t.count("discover.rows_out", d.count().toDouble)) {
          Cmr.discover(granules, ev.copy(dataFile = None, dataFileRegex = None))
        }
        val grouped = t.layer("multiasset") {
          MultiAsset.attach(objs, ev.dataFile.get, ev.dataFileRegex.get)
        }
        val built = t.layer("build", d => t.count("build.items", d.count().toDouble)) {
          StacBuilder.cmrItems(grouped, granules, ev)
        }
        t.span("publish") {
          Publish.toCatalog(built.filter(!col("datetime_error")).drop("datetime_error"),
            catalog.toString)
        }
      }
    }
    val t1 = System.nanoTime()
    val files = Io.dataFiles(catalog)
    if (t.enabled) {
      t.count("publish.files_written", files.size)
      t.count("publish.mb_written", files.values.sum / 1e6)
    }
    bulkChecked = t.outside("check")(checkCatalog(isFinal = false))
    val t2 = System.nanoTime()
    t.span("reingest") {
      val items =
        if (!t.enabled) {
          val runs = reEvs.map(ev => Runner.run(spark, ev, Runner.RunContext(
            targetBucket = Some(targetBucket), existingTargetKeys = Some(existingKeys))))
          runs.map(_.quarantined).reduce(_ unionByName _)
            .write.mode(SaveMode.Append).json(quarantine.toString)
          runs.map(_.items).reduce(_ unionByName _)
        } else {
          val built = reEvs.map(ev => tracedInventory(t, ev, transfer = true))
          t.span("publish") {
            built.map(_.filter(col("datetime_error")).drop("datetime_error"))
              .reduce(_ unionByName _).write.mode(SaveMode.Append).json(quarantine.toString)
          }
          built.map(_.filter(!col("datetime_error")).drop("datetime_error"))
            .reduce(_ unionByName _)
        }
      // CatalogOps.upsert groups the catalog rows its keys match by
      // input_file_name(), which fails when the incoming items still scan
      // a file source (two sources) and is empty when the key join
      // shuffles the catalog side. The items are therefore a reuse point
      // (upsert reads them four times anyway) with a broadcast hint.
      replaced = t.span("upsert")(CatalogOps.upsert(spark, catalog.toString,
        Materializer(items, "perfbench_reingest_items").hint("broadcast")))
    }
    val t3 = System.nanoTime()
    if (t.enabled) {
      val after = Io.dataFiles(catalog)
      val written = after.filter { case (f, size) => !files.get(f).contains(size) }
      val bytesPerItem = files.values.sum.toDouble / math.max(1L, expectedBulkItems)
      val incoming = (truth.changed.size + newGoodRows) * bytesPerItem
      t.count("upsert.replaced", replaced.toDouble)
      t.count("upsert.mb_rewritten", written.values.sum / 1e6)
      t.count("upsert.write_amplification", written.values.sum / math.max(1.0, incoming))
      t.count("publish.bytes_per_item", bytesPerItem)
    }
    val bulkS = (t1 - t0) / 1e9
    val reS = (t3 - t2) / 1e9
    Map("iter_s" -> (bulkS + reS), "bulk_s" -> bulkS, "reingest_s" -> reS,
      "items" -> expectedBulkItems.toDouble, "reingest_items" -> reinvRows.toDouble)
  }

  override def kernels(t: Tracer): Unit = {
    val urls = t.layer("kernel_input") {
      spark.read.option("header", "true")
        .csv(in.resolve("inventory").toString).select(col("s3_path"))
    }
    t.span("expr.extract_dates") {
      urls.agg(count(graft.functions.Dates.extractDates(col("s3_path"),
        lit(null).cast("string")))).collect()
    }
    val granules = t.layer("kernel_input") {
      Cmr.pagedGranules(spark, in.resolve("cmr").toString, Gen.PageSize)
        .select(col("polygons"), col("boxes"))
    }
    t.span("expr.cmr_geometry") {
      granules.agg(count(graft.functions.Geo.cmrGeometry(col("polygons"), col("boxes"),
        lit(false)))).collect()
    }
  }

  private def newGoodRows: Long = truth.reinv.values.flatten
    .count(r => r.goodDate && r.url.contains("_v1_") && !bulkIds(r.id))
  private lazy val bulkIds: Set[String] = truth.bulk.values.flatten.map(_.id).toSet
  private def expectedBulkItems: Long =
    truth.bulk.values.flatten.count(_.goodDate) + truth.products.size

  /** Expected catalog rows: (collection, id) → (day, asset count). */
  private def expected(isFinal: Boolean): Map[(String, String), (String, Int)] = {
    val inv = truth.collections.flatMap { c =>
      val rows = if (isFinal) truth.bulk(c) ++ truth.reinv(c) else truth.bulk(c)
      rows.filter(_.goodDate).map(r =>
        (c, r.id) -> (r.datetime, if (r.meta.isEmpty) 1 else 2))
    }
    // later rows (re-inventory) replace bulk rows with the same id
    val cmr = truth.products.map { case (pid, day) => (Gen.CmrCollection, pid) -> (day, 3) }
    (inv ++ cmr).toMap
  }

  private def expectedQuarantine(isFinal: Boolean): Long =
    truth.bulk.values.flatten.count(!_.goodDate) +
      (if (isFinal) truth.reinv.values.flatten.count(r => !r.goodDate && !bulkIds(r.id)) else 0)

  private def checkCatalog(isFinal: Boolean): Checked = {
    val cat = spark.read.parquet(catalog.toString)
    val rows = cat.select(col("collection"), col("id"),
        date_format(coalesce(col("datetime"), col("start_datetime")), "yyyy-MM-dd"),
        size(col("assets")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getInt(3)))
    val exp = expected(isFinal)
    val got = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSeq }
    var failed = 0L
    val notes = Seq.newBuilder[String]
    exp.foreach { case (k, v) =>
      if (!got.get(k).contains(Seq(v))) {
        failed += 1
        if (failed <= 5) notes += s"$k expected $v got ${got.get(k)}"
      }
    }
    failed += (got.keySet -- exp.keySet).size
    val q = if (Files.exists(quarantine)) spark.read.json(quarantine.toString).count() else 0L
    val qExp = expectedQuarantine(isFinal)
    if (q != qExp) {
      failed += math.abs(q - qExp); notes += s"quarantined $q expected $qExp"
    }
    if (isFinal && replaced != truth.changed.size) {
      failed += math.abs(replaced - truth.changed.size)
      notes += s"upsert replaced $replaced expected ${truth.changed.size}"
    }
    val digest = cat.select(sum(xxhash64(col("collection"), col("id"), col("datetime"),
        col("start_datetime"), col("end_datetime"), to_json(col("properties")),
        to_json(col("assets")), to_json(col("geometry")), to_json(col("links"))) % 1000000007L))
      .collect().head.get(0).toString
    Checked(failed, s"$q:$digest", notes.result())
  }

  def check(t: Tracer): Checked = {
    val fin = checkCatalog(isFinal = true)
    Checked(bulkChecked.failed + fin.failed, bulkChecked.digest + "/" + fin.digest,
      bulkChecked.notes ++ fin.notes)
  }
}

// ---------------------------------------------------------------- curate_corpus

/** Generated documents → Clean.corpus (quality gate, exact dedup,
  * MinHash-LSH near dedup) → Curate.pipeline (NB classifier, per-source
  * budget, split). */
final class CurateCorpus(spark: SparkSession, work: Path, seed: Long,
                         scale: Double) extends Workload {
  val nominalIterS = 6.0
  // the first timed iteration still runs part-cold: with two the ten-seed
  // spread of docs/s was 0.20, with three 0.07
  val minTimedIterations = 3
  private val nDocs = Gen.Sizes.docs(scale)
  private val nBoiler = Gen.Sizes.boilerplate(scale)
  private val in = work.resolve("curate/docs.jsonl")
  private val out = work.resolve("curate/out")
  private val cleanPath = out.resolve("clean")
  private val curatedPath = out.resolve("curated")
  private val budget = 1L << 40
  private var docs: Seq[Gen.Doc] = Nil
  private lazy val byId = docs.map(d => d.id -> d).toMap
  def ops: Long = docs.size.toLong

  private val schema = "doc_id BIGINT, text STRING, source STRING, label BOOLEAN"
  private def input: DataFrame = spark.read.schema(schema).json(in.toString)

  def prepare(): Unit = {
    Io.deleteTree(work.resolve("curate"))
    docs = Gen.corpus(seed, nDocs, nBoiler)
    Gen.writeCorpus(in, docs)
  }

  def reset(): Unit = Io.deleteTree(out)

  def iterate(t: Tracer): Map[String, Double] = {
    val t0 = System.nanoTime()
    val clean =
      if (!t.enabled) Clean.corpus(input, "doc_id", "text")
      else {
        // Clean.corpus's stages as separate layer calls
        val gate = t.layer("gate", d => t.count("gate.docs_out", d.count().toDouble)) {
          input.filter(Clean.qualityKeep(col("text"), Clean.Config()))
        }
        val exact = t.layer("exact_dedup", d =>
          t.count("exact_dedup.removed", (gate.count() - d.count()).toDouble)) {
          Dedup.dropExactDuplicates(gate, "doc_id", "text")
        }
        exactSurvivors = exact
        t.layer("near_dedup", d =>
          t.count("near_dedup.removed", (exact.count() - d.count()).toDouble)) {
          Dedup.dropNearDuplicates(exact, "doc_id", "text")
        }
      }
    t.span("write_clean") { clean.write.mode(SaveMode.Overwrite).parquet(cleanPath.toString) }
    val curated = t.layer("curate") {
      val cleaned = spark.read.parquet(cleanPath.toString)
      cleanedFrame = cleaned
      Curate.pipeline(cleaned, "doc_id", "text", "source", "label", budgetPerSource = budget)
    }
    t.span("write_curated") {
      curated.write.mode(SaveMode.Overwrite).parquet(curatedPath.toString)
    }
    Map("iter_s" -> (System.nanoTime() - t0) / 1e9, "docs" -> docs.size.toDouble)
  }

  private var exactSurvivors: DataFrame = _
  private var cleanedFrame: DataFrame = _

  /** Planted near-dup pairs (lower id, higher id) the LSH stage should
    * confirm among the exact-dedup survivors. */
  private def plantedPairs: Set[(Long, Long)] = {
    val near = docs.filter(_.role == "near").map(d =>
      (math.min(d.id, d.group), math.max(d.id, d.group)))
    val boiler = docs.filter(_.role == "boilerplate").map(_.id).sorted
    near.toSet ++ boiler.drop(1).map(b => (boiler.head, b))
  }

  override def kernels(t: Tracer): Unit = {
    val sigs = t.layer("expr.minhash") {
      Dedup.signatureCatalog(exactSurvivors, "doc_id", "text")
    }
    t.layer("near_dedup.candidates", d =>
      t.count("near_dedup.candidate_pairs", d.count().toDouble)) {
      Dedup.candidatesFromSignatures(sigs, 128, 32, 1000, withEst = false)
    }
    val pairs = t.layer("near_dedup.pairs") {
      Dedup.nearDuplicates(exactSurvivors, "doc_id", "text", threshold = 0.9)
    }
    val found = t.span("near_dedup.pairs")(pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val planted = plantedPairs
    t.count("near_dedup.confirmed_pairs", found.size)
    t.count("near_dedup.recall", (planted & found).size.toDouble / math.max(1, planted.size))
    t.layer("classify") {
      Classifier.nbTrainScore(cleanedFrame, "doc_id", "text", "label")
    }
  }

  /** Clean-corpus survivors the documented semantics require: short docs
    * fail the gate, each exact/near group keeps its lowest id. Boilerplate
    * members other than the cluster's lowest id may survive: buckets above
    * the LSH cap (1000) are dropped rather than deduplicated. */
  private def expectedClean(id: Long): Option[Boolean] = {
    val d = byId(id)
    d.role match {
      case "short" => Some(false)
      case "exact" | "near" => Some(d.id < d.group)
      case "plain" =>
        val copies = groupMin.get(d.id)
        Some(copies.forall(d.id < _))
      case "boilerplate" => if (d.id == boilerMin) Some(true) else None
    }
  }
  private lazy val groupMin: Map[Long, Long] =
    docs.filter(d => d.role == "exact" || d.role == "near").map(d => d.group -> d.id).toMap
  private lazy val boilerMin: Long = docs.filter(_.role == "boilerplate").map(_.id).min

  def check(t: Tracer): Checked = {
    val cleanRows = spark.read.parquet(cleanPath.toString).select("doc_id").collect()
      .map(_.getLong(0))
    val clean = cleanRows.toSet
    val curatedRows = spark.read.parquet(curatedPath.toString)
      .select("doc_id", "source", "n_tokens", "score_e6", "split").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val curated = curatedRows.toMap
    // duplicated rows are failures too
    var failed = (cleanRows.length - clean.size + curatedRows.length - curated.size).toLong
    val notes = Seq.newBuilder[String]
    docs.foreach { d =>
      val cleanOk = expectedClean(d.id).forall(_ == clean(d.id))
      val curateOk = curated.get(d.id) match {
        case Some((src, nTok, _, split)) =>
          clean(d.id) && d.good && src == d.source && nTok == d.tokens &&
            Set("train", "val", "test")(split)
        case None => !(clean(d.id) && d.good)
      }
      if (!(cleanOk && curateOk)) {
        failed += 1
        if (failed <= 5) notes += s"doc ${d.id} (${d.role}) clean=${clean(d.id)} " +
          s"curated=${curated.get(d.id)}"
      }
    }
    val unknown = (clean ++ curated.keySet) -- byId.keySet
    failed += unknown.size
    val lost = docs.count(d => d.role == "boilerplate" && d.id != boilerMin && clean(d.id))
    t.count("near_dedup.lost_to_cap", lost)
    val digest = Io.sha(clean.toSeq.sorted.map(_.toString) ++
      curated.toSeq.sortBy(_._1).map { case (k, v) => s"$k|$v" })
    Checked(failed, digest, notes.result())
  }
}
