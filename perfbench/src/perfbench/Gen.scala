package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded input generators. Each returns the ground truth it planted;
  * the same (seed, scale) always writes byte-identical files. */
object Gen {

  /** Input sizes at `scale` (1 = the benchmark's size). */
  object Sizes {
    def rasters(scale: Double): Int = math.max(40, (240 * scale).toInt)
    def inventory(scale: Double): Int = math.max(300, (24000 * scale).toInt)
    def products(scale: Double): Int = math.max(30, (1200 * scale).toInt)
    def docs(scale: Double): Int = math.max(400, (6000 * scale).toInt)
    /** Above the near-dup stage's LSH bucket cap (1000) at scale 1. */
    def boilerplate(scale: Double): Int = math.max(20, (1200 * scale).toInt)
  }

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L)

  def write(p: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  def writeString(p: Path, s: String): Unit = write(p, s.getBytes(UTF_8))

  private def date(r: SplittableRandom): String =
    f"${2015 + r.nextInt(8)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"

  // ------------------------------------------------------------ rasters

  /** One generated raster and its expected outcome: an item whose COG has
    * `height` x `width` pixels and `bands` bands, or (ok = false) a row
    * in `cog_error`. */
  case class Raster(rel: String, id: String, kind: String, ok: Boolean,
                    height: Int, width: Int, bands: Int, bytes: Long)

  val CogSubdirs = 12

  /** About `n` rasters under `dir`, spread over [[CogSubdirs]] first-level
    * directories: deflate / LZW / PackBits / uncompressed strip TIFFs,
    * RGB TIFFs and classic NetCDF (`.he5`) in skewed sizes; about 5%
    * corrupt or unsupported. Files are encoded in parallel, each from
    * its own seeded stream. */
  def rasters(dir: Path, seed: Long, n: Int): Seq[Raster] = {
    // kind and size class are stratified (a seeded permutation of fixed
    // quantiles), so every seed plants the same mix and total pixel count
    val r = rng(seed, 31L)
    val kindAt = permutation(r, n)
    val sizeAt = permutation(r, n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, Runtime.getRuntime.availableProcessors))
    try {
      val futures = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Raster] {
          def call(): Raster = raster(dir, seed, i, (kindAt(i) + 0.5) / n,
            (sizeAt(i) + 0.5) / n)
        })
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }

  def permutation(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var k = n - 1
    while (k > 0) {
      val j = r.nextInt(k + 1); val t = a(k); a(k) = a(j); a(j) = t; k -= 1
    }
    a
  }

  /** Raster side for size quantile `u`: mostly small, a long tail. */
  private def side(r: SplittableRandom, u: Double): Int = {
    if (u < 0.6) 64 + 32 * r.nextInt(4)         // 64..160
    else if (u < 0.9) 192 + 32 * r.nextInt(3)   // 192..256
    else if (u < 0.98) 320 + 64 * r.nextInt(2)  // 320..384
    else 512                                    // the long tail
  }

  /** Smooth field plus a little noise: compressible like real imagery. */
  private def field(w: Int, h: Int, spp: Int, r: SplittableRandom,
                    lo: Double, hi: Double): Array[Double] = {
    val fx = 8.0 + r.nextInt(40); val fy = 8.0 + r.nextInt(40)
    val out = new Array[Double](w * h * spp)
    val mid = (lo + hi) / 2; val amp = (hi - lo) / 2
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var b = 0
        while (b < spp) {
          val v = mid + amp * 0.45 * (math.sin(x / fx + b) + math.cos(y / fy - b)) +
            amp * 0.05 * (r.nextDouble() - 0.5)
          out((y * w + x) * spp + b) = math.max(lo, math.min(hi, math.rint(v * 64) / 64))
          b += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  private def raster(dir: Path, seed: Long, i: Int, roll: Double,
                     sizeU: Double): Raster = {
    import Encoders._
    val r = rng(seed, 1000003L + i)
    val sub = f"t${r.nextInt(CogSubdirs)}%02d"
    val stem = f"scene_$i%05d_${date(r)}"
    val w = side(r, sizeU); val h = side(r, sizeU)
    val geo = Some(Geo(-180 + r.nextInt(300), 80 - r.nextInt(150), 0.01, 0.01))
    def tif(kind: String, bytes: Array[Byte], ok: Boolean, bands: Int) = {
      val rel = s"$sub/$stem.tif"
      write(dir.resolve(rel), bytes)
      Raster(rel, stem, kind, ok, h, w, bands, bytes.length)
    }
    if (roll < 0.05) {
      // corrupt or unsupported: must land in cog_error
      r.nextInt(6) match {
        case 0 =>
          val good = tiff(w, h, 1, 32, 3, field(w, h, 1, r, -50, 50),
            CompDeflate, predictor = false, geo)
          tif("truncated", java.util.Arrays.copyOf(good, good.length * 11 / 20),
            ok = false, 1)
        case 1 =>
          val junk = new Array[Byte](4096 + r.nextInt(8192))
          var k = 0
          while (k < junk.length) { junk(k) = r.nextInt(256).toByte; k += 1 }
          tif("garbage", junk, ok = false, 1)
        case 2 =>
          tif("two_band", tiff(w, h, 2, 8, 1, field(w, h, 2, r, 0, 255),
            CompDeflate, predictor = false, geo), ok = false, 2)
        case 3 =>
          tif("int32", tiff(w, h, 1, 32, 2, field(w, h, 1, r, -1000, 1000),
            CompNone, predictor = false, geo), ok = false, 1)
        case 4 =>
          tif("jpeg2000_tag", tiff(w, h, 1, 16, 1, field(w, h, 1, r, 0, 4000),
            CompDeflate, predictor = false, geo, compressionTag = Some(34712)),
            ok = false, 1)
        case _ =>
          val rel = s"$sub/$stem.he5"
          val bytes = netcdf("other", Array.tabulate(h)(k => -60 + 120.0 * k / h),
            Array.tabulate(w)(k => -170 + 340.0 * k / w),
            field(w, h, 1, r, 0, 30).map(_.toFloat), -9999)
          write(dir.resolve(rel), bytes)
          Raster(rel, stem, "netcdf_no_var", ok = false, h, w, 1, bytes.length)
      }
    } else if (roll < 0.40) {
      tif("f32_deflate", tiff(w, h, 1, 32, 3, field(w, h, 1, r, -50, 50),
        CompDeflate, predictor = false, geo), ok = true, 1)
    } else if (roll < 0.52) {
      tif("u16_lzw", tiff(w, h, 1, 16, 1, field(w, h, 1, r, 0, 4000),
        CompLzw, predictor = true, geo), ok = true, 1)
    } else if (roll < 0.60) {
      tif("u16_packbits", tiff(w, h, 1, 16, 1, field(w, h, 1, r, 0, 4000),
        CompPackBits, predictor = false, geo), ok = true, 1)
    } else if (roll < 0.68) {
      tif("f32_none", tiff(w, h, 1, 32, 3, field(w, h, 1, r, -50, 50),
        CompNone, predictor = false, geo), ok = true, 1)
    } else if (roll < 0.84) {
      val comp = if (r.nextBoolean()) CompDeflate else CompLzw
      tif("rgb_u8", tiff(w, h, 3, 8, 1, field(w, h, 3, r, 0, 255),
        comp, predictor = false, geo), ok = true, 3)
    } else {
      val rel = s"$sub/$stem.he5"
      val lat0 = -60 + r.nextInt(60)
      val bytes = netcdf("sst", Array.tabulate(h)(k => lat0 + 60.0 * k / h),
        Array.tabulate(w)(k => -170 + 340.0 * k / w),
        field(w, h, 1, r, -2, 32).map(_.toFloat), -9999)
      write(dir.resolve(rel), bytes)
      Raster(rel, stem, "netcdf", ok = true, h, w, 1, bytes.length)
    }
  }

  // ------------------------------------------------------------ catalog

  /** One inventory row: `url`, optional metadata url, whether its date
    * token is valid, and the item id the build must derive. */
  case class InvRow(id: String, url: String, meta: String, goodDate: Boolean,
                    datetime: String)

  /** The ingest_catalog inputs: per collection a bulk inventory and a
    * re-inventory (90% overlap with the bulk one, 5% of the overlap
    * changed, 10% new rows), the target listing of the bulk transfer,
    * and CMR page files of 3-file products (id, time_start day). */
  case class Catalog(collections: Seq[String], bulk: Map[String, Seq[InvRow]],
                     reinv: Map[String, Seq[InvRow]], changed: Set[String],
                     products: Seq[(String, String)], granules: Int,
                     pages: Int)

  val InventoryCollections: Seq[(String, Double)] =
    Seq("alpha" -> 0.5, "beta" -> 0.3, "gamma" -> 0.2)
  val CmrCollection = "orbit"
  val IdRegex = "granule_[a-z]+_[0-9]{8}"
  val DataFileRegex = "PRD[0-9]{7}"
  val PageSize = 500

  private def invRow(coll: String, idx: Int, version: Int,
                     r: SplittableRandom, badDate: Boolean): InvRow = {
    val id = f"granule_${coll}_$idx%08d"
    val d = if (badDate) f"${2015 + r.nextInt(8)}%04d-${13 + r.nextInt(6)}%02d-${32 + r.nextInt(8)}%02d"
            else date(r)
    val url = s"s3://bench-src/$coll/${d.take(4)}/${id}_v$version" + s"_$d.tif"
    val meta = if (r.nextInt(2) == 0) "" else s"s3://bench-src/$coll/meta/${id}_v$version.xml"
    InvRow(id, url, meta, !badDate, if (badDate) "" else d)
  }

  def catalog(dir: Path, seed: Long, nInventory: Int, nProducts: Int): Catalog = {
    val bulk = Map.newBuilder[String, Seq[InvRow]]
    val reinv = Map.newBuilder[String, Seq[InvRow]]
    val changed = Set.newBuilder[String]
    val targets = new StringBuilder("key\n")
    InventoryCollections.zipWithIndex.foreach { case ((coll, share), ci) =>
      val r = rng(seed, 77L + ci)
      val n = math.max(10, (nInventory * share).toInt)
      val rows = (0 until n).map(i => invRow(coll, i, 1, r, r.nextDouble() < 0.02))
      bulk += coll -> rows
      rows.foreach(x => targets.append(s"file-staging/$coll/${x.url.split('/').last}\n"))
      // re-inventory: 90% of the bulk rows (5% of those changed: a new
      // version with a new valid date, same id) plus 10% new rows
      val kept = rows.filter(_ => r.nextDouble() < 0.9)
      val again = kept.map { x =>
        if (x.goodDate && r.nextDouble() < 0.05) {
          changed += x.id
          invRow(coll, x.id.takeRight(8).toInt, 2, r, badDate = false)
        } else x
      }
      val fresh = (n until n + n / 10).map(i =>
        invRow(coll, i, 1, r, r.nextDouble() < 0.02))
      val all = again ++ fresh
      // shuffle so changed and new rows are spread over the file
      val arr = all.toArray
      var k = arr.length - 1
      while (k > 0) {
        val j = r.nextInt(k + 1); val t = arr(k); arr(k) = arr(j); arr(j) = t; k -= 1
      }
      reinv += coll -> arr.toSeq
      def csv(rs: Seq[InvRow]) =
        rs.map(x => s"${x.url},${x.meta}").mkString("s3_path,meta_path\n", "\n", "\n")
      writeString(dir.resolve(s"inventory/$coll.csv"), csv(rows))
      writeString(dir.resolve(s"reinventory/$coll.csv"), csv(arr.toSeq))
    }
    writeString(dir.resolve("targets/keys.csv"), targets.toString)

    // CMR: 3 granules per product (two bands + QA), shuffled over pages
    val r = rng(seed, 991L)
    val products = (0 until nProducts).map { p =>
      val day = date(r)
      val t = f"${day}T${r.nextInt(24)}%02d:00:00Z"
      val lat = -60 + r.nextInt(120); val lon = -170 + r.nextInt(340)
      val spatial =
        if (r.nextBoolean())
          s""""boxes":["$lat $lon ${lat + 1} ${lon + 1}"]"""
        else
          s""""polygons":[["$lat $lon $lat ${lon + 1} ${lat + 1} ${lon + 1} ${lat + 1} $lon $lat $lon"]]"""
      (f"PRD$p%07d", day, t, spatial)
    }
    val granules = products.zipWithIndex.flatMap { case ((pid, _, t, spatial), p) =>
      Seq("B01.tif", "B02.tif", "QA.tif").zipWithIndex.map { case (suffix, k) =>
        val gid = f"G${p * 3 + k}%08d"
        s"""{"id":"$gid","title":"${pid}_$suffix","dataset_id":"BENCH_ORBIT","data_center":"BENCH",""" +
          s""""time_start":"$t","updated":"$t","collection_concept_id":"C0001-BENCH",""" +
          s"""$spatial,"links":[{"rel":"http://esipfed.org/ns/fedsearch/1.1/s3#",""" +
          s""""href":"s3://bench-cmr/$pid/${pid}_$suffix"},""" +
          s"""{"rel":"http://esipfed.org/ns/fedsearch/1.1/metadata#",""" +
          s""""href":"https://cmr.example/$gid.xml","type":"application/xml"}]}"""
      }
    }.toArray
    var k = granules.length - 1
    while (k > 0) {
      val j = r.nextInt(k + 1); val t = granules(k); granules(k) = granules(j); granules(j) = t; k -= 1
    }
    val pages = granules.grouped(PageSize).zipWithIndex.map { case (g, i) =>
      writeString(dir.resolve(f"cmr/page-${i + 1}%04d.json"), g.mkString("[", ",\n", "]"))
    }.size
    Catalog(InventoryCollections.map(_._1), bulk.result(), reinv.result(),
      changed.result(), products.map(p => p._1 -> p._2), granules.length, pages)
  }

  // ------------------------------------------------------------ corpus

  /** One document and its planted role: plain, exact copy, near copy
    * (original + one word), short (fails the quality gate) or a member
    * of the boilerplate cluster. `group` links copies to their original. */
  case class Doc(id: Long, text: String, source: String, good: Boolean,
                 role: String, group: Long, tokens: Int)

  val Sources: Seq[(String, Double)] =
    Seq("web" -> 0.5, "books" -> 0.125, "news" -> 0.125, "code" -> 0.125,
      "forum" -> 0.125)

  /** Vocabulary of one class: good words start with a-m, bad with n-z,
    * so the classifier's two classes share no token. */
  private def vocab(r: SplittableRandom, good: Boolean, n: Int): Array[String] = {
    val first = if (good) "abcdefghijklm" else "nopqrstuvwxyz"
    val rest = "aeiouklmnprst"
    val out = new java.util.LinkedHashSet[String]()
    while (out.size < n) {
      val len = 3 + r.nextInt(6)
      val sb = new StringBuilder
      sb.append(first.charAt(r.nextInt(first.length)))
      (1 until len).foreach(_ => sb.append(rest.charAt(r.nextInt(rest.length))))
      out.add(sb.toString)
    }
    out.toArray(new Array[String](0))
  }

  /** Unique alphabetic suffix word for boilerplate member `i`. */
  private def tagWord(i: Int): String = {
    val letters = "nopqrstuvwxyz"
    val sb = new StringBuilder("zz")
    var v = i
    do { sb.append(letters.charAt(v % letters.length)); v /= letters.length } while (v > 0)
    sb.toString
  }

  /** `n` docs: ~10% exact copies, ~10% near copies, ~3% short docs, and a
    * boilerplate cluster of `boilerplate` near-identical docs (larger
    * than the LSH bucket cap). One source holds half the corpus. Ids are
    * a seeded permutation, so a copy's id may be lower than its
    * original's. */
  def corpus(seed: Long, n: Int, boilerplate: Int): Seq[Doc] = {
    val r = rng(seed, 4242L)
    val good = vocab(r, good = true, 1500)
    val bad = vocab(r, good = false, 1500)
    def words(pool: Array[String], k: Int) =
      (0 until k).map(_ => pool(r.nextInt(pool.length))).mkString(" ")
    def source(): String = {
      val u = r.nextDouble(); var acc = 0.0
      Sources.find { case (_, p) => acc += p; u < acc }.map(_._1).getOrElse("web")
    }
    val nCopies = n / 10
    val nShort = n * 3 / 100
    val nPlain = n - boilerplate - nShort - 2 * nCopies
    require(nPlain > 2 * nCopies, s"corpus too small: $n docs")
    // (text, good, role, group-index)
    val plain = (0 until nPlain).map { i =>
      val g = r.nextDouble() < 0.6
      (words(if (g) good else bad, 40 + r.nextInt(41)), g, "plain", i)
    }
    val exact = (0 until nCopies).map(i => plain(i).copy(_3 = "exact"))
    val near = (0 until nCopies).map { i =>
      val (t, g, _, grp) = plain(nCopies + i)
      (t + " " + words(if (g) good else bad, 1), g, "near", grp)
    }
    val short = (0 until nShort).map(_ =>
      (words(good, 2 + r.nextInt(3)), true, "short", -1))
    val template = words(bad, 70)
    val boiler = (0 until boilerplate).map(i =>
      (template + " " + tagWord(i), false, "boilerplate", -2))
    val all = plain ++ exact ++ near ++ short ++ boiler
    val ids = Array.tabulate(all.size)(i => i.toLong + 1)
    var k = ids.length - 1
    while (k > 0) {
      val j = r.nextInt(k + 1); val t = ids(k); ids(k) = ids(j); ids(j) = t; k -= 1
    }
    val plainIds = ids.take(nPlain)
    all.zipWithIndex.map { case ((text, g, role, grp), i) =>
      val group = if (grp >= 0) plainIds(grp) else grp.toLong
      Doc(ids(i), text, source(), g, role, group, text.split(' ').length)
    }
  }

  def writeCorpus(p: Path, docs: Seq[Doc]): Unit =
    writeString(p, docs.map(d =>
      s"""{"doc_id":${d.id},"text":"${d.text}","source":"${d.source}","label":${d.good}}"""
    ).mkString("", "\n", "\n"))
}
