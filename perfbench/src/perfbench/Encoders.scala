package perfbench

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** Raster file encoders for the generated inputs: stripped classic TIFF
  * (none / LZW / deflate / PackBits, optional horizontal predictor,
  * optional GeoTIFF tags) and classic NetCDF (CDF-1). Written from the
  * format specs so the inputs do not depend on the library under test. */
object Encoders {

  // ------------------------------------------------------------ TIFF

  val CompNone = 1
  val CompLzw = 5
  val CompDeflate = 8
  val CompPackBits = 32773

  /** One IFD entry: tag, TIFF field type, count, little-endian value bytes. */
  private case class Entry(tag: Int, typ: Int, count: Int, value: Array[Byte])

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
  private def shortEntry(tag: Int, vs: Seq[Int]): Entry = {
    val b = le(vs.size * 2); vs.foreach(v => b.putShort(v.toShort))
    Entry(tag, 3, vs.size, b.array())
  }
  private def longEntry(tag: Int, vs: Seq[Long]): Entry = {
    val b = le(vs.size * 4); vs.foreach(v => b.putInt(v.toInt))
    Entry(tag, 4, vs.size, b.array())
  }
  private def doubleEntry(tag: Int, vs: Seq[Double]): Entry = {
    val b = le(vs.size * 8); vs.foreach(b.putDouble)
    Entry(tag, 12, vs.size, b.array())
  }

  /** Geo block: pixel scale + tiepoint + a geographic GeoKey directory. */
  case class Geo(x0: Double, y0: Double, xres: Double, yres: Double,
                 epsg: Int = 4326)

  /** Stripped TIFF. `samples` is pixel-interleaved (chunky), one value per
    * sample, already in the sample type's range. `bits`/`format` pick the
    * sample type (8/16-bit unsigned = format 1, 32-bit float = format 3,
    * 32-bit signed = format 2). `compressionTag` overrides the tag value
    * written (to produce files with an unsupported codec). */
  def tiff(width: Int, height: Int, spp: Int, bits: Int, format: Int,
           samples: Array[Double], compression: Int, predictor: Boolean,
           geo: Option[Geo], compressionTag: Option[Int] = None)
  : Array[Byte] = {
    val bps = bits / 8
    val rowBytes = width * spp * bps
    val rowsPerStrip = math.max(1, math.min(height, 16384 / math.max(1, rowBytes)))
    val strips = (0 until height by rowsPerStrip).map { y0 =>
      val rows = math.min(rowsPerStrip, height - y0)
      val raw = le(rows * rowBytes)
      var i = y0 * width * spp
      val end = (y0 + rows) * width * spp
      while (i < end) {
        val v = samples(i)
        (bits, format) match {
          case (8, _) => raw.put(v.toInt.toByte)
          case (16, _) => raw.putShort(v.toInt.toShort)
          case (32, 3) => raw.putFloat(v.toFloat)
          case (32, _) => raw.putInt(v.toInt)
          case other => throw new IllegalArgumentException(s"sample type $other")
        }
        i += 1
      }
      val bytes = raw.array()
      if (predictor) differenceRows(bytes, rows, width, spp, bps)
      compression match {
        case CompNone => bytes
        case CompLzw => lzw(bytes)
        case CompDeflate => deflate(bytes)
        case CompPackBits =>
          val o = new ByteArrayOutputStream()
          (0 until rows).foreach(r =>
            o.write(packBits(java.util.Arrays.copyOfRange(bytes,
              r * rowBytes, (r + 1) * rowBytes))))
          o.toByteArray
      }
    }
    val entries = Seq.newBuilder[Entry]
    entries += longEntry(256, Seq(width.toLong))
    entries += longEntry(257, Seq(height.toLong))
    entries += shortEntry(258, Seq.fill(spp)(bits))
    entries += shortEntry(259, Seq(compressionTag.getOrElse(compression)))
    entries += shortEntry(262, Seq(if (spp == 3) 2 else 1))
    entries += longEntry(273, strips.map(_ => 0L)) // patched below
    entries += shortEntry(277, Seq(spp))
    entries += longEntry(278, Seq(rowsPerStrip.toLong))
    entries += longEntry(279, strips.map(_.length.toLong))
    entries += shortEntry(284, Seq(1))
    if (predictor) entries += shortEntry(317, Seq(2))
    entries += shortEntry(339, Seq.fill(spp)(format))
    geo.foreach { g =>
      entries += doubleEntry(33550, Seq(g.xres, g.yres, 0.0))
      entries += doubleEntry(33922, Seq(0.0, 0.0, 0.0, g.x0, g.y0, 0.0))
      entries += shortEntry(34735, Seq(1, 1, 0, 3, 1024, 0, 1, 2,
        1025, 0, 1, 1, 2048, 0, 1, g.epsg))
    }
    // layout: header | strip data | IFD | out-of-line values
    val es = entries.result().sortBy(_.tag)
    val dataStart = 8
    val stripOffsets = strips.scanLeft(dataStart.toLong)(_ + _.length).init
    val ifdStart0 = dataStart + strips.map(_.length).sum
    val ifdStart = ifdStart0 + (ifdStart0 & 1) // word aligned
    val ifdSize = 2 + es.size * 12 + 4
    val patched = es.map(e =>
      if (e.tag == 273) longEntry(273, stripOffsets) else e)
    var extra = ifdStart + ifdSize
    val out = le(extra + patched.map(e =>
      if (e.value.length > 4) e.value.length + (e.value.length & 1) else 0).sum)
    out.put('I'.toByte).put('I'.toByte).putShort(42.toShort).putInt(ifdStart)
    strips.foreach(s => out.put(s))
    out.position(ifdStart)
    out.putShort(patched.size.toShort)
    val deferred = Seq.newBuilder[(Int, Array[Byte])]
    patched.foreach { e =>
      out.putShort(e.tag.toShort).putShort(e.typ.toShort).putInt(e.count)
      if (e.value.length <= 4) {
        out.put(e.value); (e.value.length until 4).foreach(_ => out.put(0.toByte))
      } else {
        out.putInt(extra)
        deferred += (extra -> e.value)
        extra += e.value.length + (e.value.length & 1)
      }
    }
    out.putInt(0)
    deferred.result().foreach { case (at, v) => out.position(at); out.put(v) }
    out.array()
  }

  /** TIFF predictor 2: per-row horizontal differencing of integer samples. */
  private def differenceRows(b: Array[Byte], rows: Int, width: Int, spp: Int,
                             bps: Int): Unit = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    var r = 0
    while (r < rows) {
      val base = r * width * spp * bps
      var i = width * spp - 1
      while (i >= spp) {
        val p = base + i * bps
        val q = base + (i - spp) * bps
        if (bps == 1) b(p) = (b(p) - b(q)).toByte
        else bb.putShort(p, (bb.getShort(p) - bb.getShort(q)).toShort)
        i -= 1
      }
      r += 1
    }
  }

  def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(raw); d.finish()
    val o = new ByteArrayOutputStream(raw.length / 2 + 64)
    val buf = new Array[Byte](1 << 16)
    while (!d.finished()) o.write(buf, 0, d.deflate(buf))
    d.end()
    o.toByteArray
  }

  /** PackBits (TIFF 6.0 §9): literal runs of 1-128 bytes, replicate runs
    * of 2-128 bytes. */
  def packBits(raw: Array[Byte]): Array[Byte] = {
    val o = new ByteArrayOutputStream(raw.length + raw.length / 64 + 2)
    var i = 0
    while (i < raw.length) {
      var run = 1
      while (i + run < raw.length && run < 128 && raw(i + run) == raw(i)) run += 1
      if (run >= 2) {
        o.write(1 - run); o.write(raw(i)); i += run
      } else {
        var j = i + 1
        while (j < raw.length && j - i < 128 &&
          !(j + 1 < raw.length && raw(j + 1) == raw(j))) j += 1
        o.write(j - i - 1); o.write(raw, i, j - i); i = j
      }
    }
    o.toByteArray
  }

  /** TIFF LZW (TIFF 6.0 §13): MSB-first codes of 9-12 bits, Clear = 256,
    * EOI = 257, code width grows one entry early like libtiff. */
  def lzw(raw: Array[Byte]): Array[Byte] = {
    val o = new ByteArrayOutputStream(raw.length / 2 + 64)
    var acc = 0L; var nacc = 0
    def emit(code: Int, width: Int): Unit = {
      acc = (acc << width) | code; nacc += width
      while (nacc >= 8) { o.write(((acc >>> (nacc - 8)) & 0xFF).toInt); nacc -= 8 }
    }
    val dict = new java.util.HashMap[Integer, Integer]()
    var width = 9; var next = 258
    emit(256, width)
    def grow(): Unit =
      if (next == 4094) {
        emit(256, width); dict.clear(); next = 258; width = 9
      } else if (next > (1 << width) - 1) width += 1
    var w = -1
    var i = 0
    while (i < raw.length) {
      val b = raw(i) & 0xFF
      if (w < 0) w = b
      else {
        val key = (w << 8) | b
        val hit = dict.get(key)
        if (hit != null) w = hit
        else {
          emit(w, width)
          dict.put(key, next); next += 1
          grow()
          w = b
        }
      }
      i += 1
    }
    if (w >= 0) { emit(w, width); next += 1; grow() }
    emit(257, width)
    if (nacc > 0) o.write(((acc << (8 - nacc)) & 0xFF).toInt)
    o.toByteArray
  }

  // ------------------------------------------------------------ NetCDF

  /** Classic NetCDF (CDF-1) with 1-D `lat`/`lon` double coordinates and
    * one float variable over (lat, lon) carrying a `_FillValue`. */
  def netcdf(varName: String, lats: Array[Double], lons: Array[Double],
             data: Array[Float], fill: Double): Array[Byte] = {
    val h = new ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(h)
    def name(s: String): Unit = {
      val b = s.getBytes("UTF-8"); d.writeInt(b.length); d.write(b)
      (0 until (4 - b.length % 4) % 4).foreach(_ => d.write(0))
    }
    val nlat = lats.length; val nlon = lons.length
    d.write("CDF".getBytes("US-ASCII")); d.write(1)
    d.writeInt(0) // numrecs
    d.writeInt(0x0A); d.writeInt(2); name("lat"); d.writeInt(nlat)
    name("lon"); d.writeInt(nlon)
    d.writeInt(0); d.writeInt(0) // no global attributes
    d.writeInt(0x0B); d.writeInt(3)
    val beginAt = scala.collection.mutable.ArrayBuffer.empty[Int]
    def variable(n: String, dims: Seq[Int], typ: Int, vsize: Int,
                 fillAttr: Boolean): Unit = {
      name(n); d.writeInt(dims.size); dims.foreach(d.writeInt)
      if (fillAttr) {
        d.writeInt(0x0C); d.writeInt(1); name("_FillValue")
        d.writeInt(5); d.writeInt(1); d.writeFloat(fill.toFloat)
      } else { d.writeInt(0); d.writeInt(0) }
      d.writeInt(typ); d.writeInt(vsize)
      beginAt += h.size(); d.writeInt(0)
    }
    variable("lat", Seq(0), 6, nlat * 8, fillAttr = false)
    variable("lon", Seq(1), 6, nlon * 8, fillAttr = false)
    variable(varName, Seq(0, 1), 5, nlat * nlon * 4, fillAttr = true)
    d.flush()
    val header = h.size()
    val out = ByteBuffer.allocate(header + nlat * 8 + nlon * 8 + nlat * nlon * 4)
      .order(ByteOrder.BIG_ENDIAN)
    out.put(h.toByteArray)
    val begins = Seq(header, header + nlat * 8, header + nlat * 8 + nlon * 8)
    lats.foreach(out.putDouble); lons.foreach(out.putDouble)
    data.foreach(out.putFloat)
    beginAt.zip(begins).foreach { case (at, b) => out.putInt(at, b) }
    out.array()
  }
}
