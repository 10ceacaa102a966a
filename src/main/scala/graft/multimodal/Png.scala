package graft.multimodal

import java.util.zip.{CRC32, Deflater, Inflater}

/** PNG (W3C/ISO spec, RFC 2083) — the flagship REAL interchange image
  * format, implemented pure-JVM for 8-bit truecolor (color type 2,
  * the spec's plain RGB): 8-byte signature, CRC-32-protected chunks
  * (IHDR / IDAT+ / IEND), zlib-deflated scanlines (JDK
  * Deflater/Inflater — zlib itself is outside the codec under test;
  * the PNG layer around it is what this file implements), and the
  * spec's five scanline filters:
  *
  *   0 None    raw
  *   1 Sub     v - left            (bpp back on the same row)
  *   2 Up      v - up              (same column, previous row)
  *   3 Average v - (left+up)/2     (floor)
  *   4 Paeth   v - paeth(l,u,ul)   (closest-predictor select)
  *
  * The ENCODER picks each row's filter by the spec's recommended
  * minimum-sum-of-absolute-differences heuristic, so realistic streams
  * mix filter types (PngSpec pins that the test image actually
  * exercises several, with an independent filter-byte walker on the
  * re-inflated stream). The DECODER enforces the full structural
  * surface: signature, chunk layout (IHDR first, IEND last, IDAT
  * consecutive), CRC-32 of EVERY chunk (PNG's own integrity check —
  * unlike QOI there is a checksum, so corruption must be DETECTED, not
  * just decoded wrong; the spec proves a flipped IDAT byte rejects),
  * IHDR field validation, exact inflated length, filter-range check,
  * and no trailing bytes after IEND.
  *
  * Losslessness is proved the same way as [[Qoi]]/[[Flac]]: the query
  * layer compares decoded pixels to the source formula (the shared
  * [[Qoi.testImage]]), so PNG and QOI certify against the SAME pixels
  * and the same DuckDB oracle arithmetic.
  */
object Png {

  private val Signature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  // One zlib codec pair per thread, reset() per use: constructing a
  // Deflater/Inflater allocates NATIVE zlib state, and at one
  // allocation per image that init was the dominant constant of the
  // ICO gate's PNG arm (per-arm split measured in SCALING_r11.md §3).
  // reset() restores the exact initial parameters, so the emitted
  // deflate stream is byte-identical to a fresh instance's — the
  // encode-determinism pins (PngSpec, oracle hashes) are unaffected.
  // Executor threads are reused across tasks, so this amortizes over
  // every image a core ever touches; the state is never end()'d,
  // bounded by one pair per live thread.
  private val deflaters: ThreadLocal[Deflater] =
    ThreadLocal.withInitial(() => new Deflater())
  private val inflaters: ThreadLocal[Inflater] =
    ThreadLocal.withInitial(() => new Inflater())
  private[multimodal] def deflater(): Deflater = {
    val d = deflaters.get(); d.reset(); d
  }
  private[multimodal] def inflater(): Inflater = {
    val i = inflaters.get(); i.reset(); i
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def crcOf(tpe: String, data: Array[Byte], len: Int): Long = {
    val crc = new CRC32()
    crc.update(tpe.getBytes("US-ASCII"))
    crc.update(data, 0, len)
    crc.getValue
  }

  /** Filter the pixel rows (per-row min-sum-of-abs heuristic) and
    * zlib-deflate — the scanline payload shared by a PNG IDAT stream
    * and an APNG frame's fdAT stream ([[Apng]]). */
  private[multimodal] def filterAndDeflate(width: Int, height: Int,
                                           pixels: Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0 && pixels.length == width * height,
      s"bad dimensions ${width}x$height for ${pixels.length} pixels")
    val stride = 3 * width
    val raw = new Array[Byte](height * (1 + stride))
    val cur = new Array[Byte](stride)
    val prev = new Array[Byte](stride) // zero for row 0, per spec
    val filtered = Array.ofDim[Byte](5, stride)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val p = pixels(y * width + x)
        cur(3 * x) = ((p >>> 16) & 0xFF).toByte
        cur(3 * x + 1) = ((p >>> 8) & 0xFF).toByte
        cur(3 * x + 2) = (p & 0xFF).toByte
        x += 1
      }
      var i = 0
      while (i < stride) {
        val v = cur(i) & 0xFF
        val a = if (i >= 3) cur(i - 3) & 0xFF else 0
        val b = prev(i) & 0xFF
        val c = if (i >= 3) prev(i - 3) & 0xFF else 0
        filtered(0)(i) = v.toByte
        filtered(1)(i) = (v - a).toByte
        filtered(2)(i) = (v - b).toByte
        filtered(3)(i) = (v - (a + b) / 2).toByte
        filtered(4)(i) = (v - paeth(a, b, c)).toByte
        i += 1
      }
      // spec-recommended heuristic: minimize sum of |signed byte|
      var best = 0; var bestScore = Long.MaxValue
      var f = 0
      while (f < 5) {
        var s = 0L; var j = 0
        while (j < stride) { s += math.abs(filtered(f)(j).toInt); j += 1 }
        if (s < bestScore) { bestScore = s; best = f }
        f += 1
      }
      raw(y * (1 + stride)) = best.toByte
      System.arraycopy(filtered(best), 0, raw, y * (1 + stride) + 1, stride)
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    // zlib-compress the filtered stream
    val defl = deflater()
    defl.setInput(raw); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    zbuf.toByteArray
  }

  /** The 13 IHDR bytes for this codec's 8-bit truecolor subset. */
  private[multimodal] def ihdrBytes(width: Int, height: Int): Array[Byte] = {
    val ihdr = new Array[Byte](13)
    def put32(o: Int, v: Int): Unit = {
      ihdr(o) = ((v >>> 24) & 0xFF).toByte; ihdr(o + 1) = ((v >>> 16) & 0xFF).toByte
      ihdr(o + 2) = ((v >>> 8) & 0xFF).toByte; ihdr(o + 3) = (v & 0xFF).toByte
    }
    put32(0, width); put32(4, height)
    ihdr(8) = 8   // bit depth
    ihdr(9) = 2   // color type: truecolor
    ihdr(10) = 0  // compression: deflate
    ihdr(11) = 0  // filter method 0
    ihdr(12) = 0  // no interlace
    ihdr
  }

  /** Append one length+type+data+CRC chunk. */
  private[multimodal] def writeChunk(out: java.io.ByteArrayOutputStream,
                                     tpe: String, data: Array[Byte]): Unit = {
    def be32(v: Long): Unit = {
      out.write(((v >>> 24) & 0xFF).toInt); out.write(((v >>> 16) & 0xFF).toInt)
      out.write(((v >>> 8) & 0xFF).toInt); out.write((v & 0xFF).toInt)
    }
    be32(data.length.toLong)
    out.write(tpe.getBytes("US-ASCII"), 0, 4)
    out.write(data, 0, data.length)
    be32(crcOf(tpe, data, data.length))
  }

  private[multimodal] val PngSignature: Array[Byte] = Signature

  /** Encode row-major 0xRRGGBB pixels as an 8-bit truecolor PNG with
    * per-row heuristic filter selection. */
  def encode(width: Int, height: Int, pixels: Array[Int]): Array[Byte] = {
    val idat = filterAndDeflate(width, height, pixels)
    val out = new java.io.ByteArrayOutputStream(idat.length + 64)
    out.write(Signature, 0, Signature.length)
    writeChunk(out, "IHDR", ihdrBytes(width, height))
    writeChunk(out, "IDAT", idat)
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decode an 8-bit truecolor PNG; returns (w, h, 0xRRGGBB pixels).
    * Enforces signature, chunk grammar, every chunk CRC, IHDR fields,
    * exact inflated length and filter bytes — any violation throws. */
  def decode(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    require(bytes.length >= 8 + 12 * 3, "payload too short for a PNG")
    var i = 0
    while (i < 8) {
      require(bytes(i) == Signature(i), s"bad PNG signature byte $i")
      i += 1
    }
    var pos = 8
    var width = -1; var height = -1
    var sawIhdr = false; var sawIend = false; var idatDone = false
    val z = new java.io.ByteArrayOutputStream()
    def u32(o: Int): Long =
      ((bytes(o) & 0xFFL) << 24) | ((bytes(o + 1) & 0xFFL) << 16) |
        ((bytes(o + 2) & 0xFFL) << 8) | (bytes(o + 3) & 0xFFL)
    while (!sawIend) {
      require(pos + 12 <= bytes.length, "truncated chunk header")
      val len = u32(pos)
      require(len <= Int.MaxValue - 12 && pos + 12 + len <= bytes.length,
        "chunk length overruns payload")
      val tpe = new String(bytes, pos + 4, 4, "US-ASCII")
      val dataOff = pos + 8
      val crcStored = u32(dataOff + len.toInt)
      val crc = new CRC32()
      crc.update(bytes, pos + 4, 4 + len.toInt)
      require(crc.getValue == crcStored, s"CRC mismatch on $tpe chunk")
      tpe match {
        case "IHDR" =>
          require(!sawIhdr, "duplicate IHDR")
          require(pos == 8, "IHDR must be the first chunk")
          require(len == 13, s"IHDR length $len")
          width = u32(dataOff).toInt; height = u32(dataOff + 4).toInt
          require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
          // bound with LONG arithmetic before any allocation: a crafted
          // header near 2^30 would overflow 3*width / height*(1+stride)
          // / width*height as ints and surface as a
          // NegativeArraySizeException (or a multi-GB allocation)
          // instead of the contract's require
          require(3L * width * height + height <= Int.MaxValue,
            s"dimensions ${width}x$height exceed decoder bounds")
          require(bytes(dataOff + 8) == 8, "only bit depth 8 supported")
          require(bytes(dataOff + 9) == 2, "only truecolor (type 2) supported")
          require(bytes(dataOff + 10) == 0, "unknown compression method")
          require(bytes(dataOff + 11) == 0, "unknown filter method")
          require(bytes(dataOff + 12) == 0, "interlace not supported")
          sawIhdr = true
        case "IDAT" =>
          require(sawIhdr, "IDAT before IHDR")
          require(!idatDone, "IDAT chunks must be consecutive")
          z.write(bytes, dataOff, len.toInt)
        case "IEND" =>
          require(len == 0, "IEND must be empty")
          sawIend = true
        case other =>
          require(sawIhdr, s"$other before IHDR")
          // ancillary bit (bit 5 of the first type byte) clear means
          // CRITICAL — the spec requires a decoder to reject unknown
          // critical chunks, not skip them (PNG spec §5.4)
          require((bytes(pos + 4) & 0x20) != 0,
            s"unknown critical chunk $other")
        // ancillary chunks (tEXt, pHYs, ...) are legal; a gap between
        // IDATs is not — any non-IDAT chunk after IDAT data seals it
      }
      if (tpe != "IDAT" && z.size() > 0) idatDone = true
      pos += 12 + len.toInt
    }
    require(pos == bytes.length, "trailing bytes after IEND")
    require(z.size() > 0, "no IDAT data")
    (width, height, inflateAndReconstruct(width, height, z.toByteArray))
  }

  /** Inflate one complete zlib scanline stream and undo the filters —
    * the decode payload shared by PNG's IDAT and each APNG frame's
    * fdAT stream ([[Apng]]). Enforces exact inflated length and the
    * filter-byte range. */
  private[multimodal] def inflateAndReconstruct(width: Int, height: Int,
                                                z: Array[Byte]): Array[Int] = {
    val stride = 3 * width
    val raw = new Array[Byte](height * (1 + stride))
    val inf = inflater()
    inf.setInput(z)
    var off = 0
    while (!inf.finished() && off < raw.length) {
      val n = inf.inflate(raw, off, raw.length - off)
      require(n > 0 || inf.finished(), "truncated zlib stream in IDAT")
      off += n
    }
    require(off == raw.length && (inf.finished() || inf.inflate(new Array[Byte](1)) == 0 && inf.finished()),
      s"inflated length $off != expected ${raw.length}")

    // reconstruct
    val px = new Array[Int](width * height)
    val cur = new Array[Int](stride)
    val prev = new Array[Int](stride)
    var y = 0
    while (y < height) {
      val f = raw(y * (1 + stride)) & 0xFF
      require(f <= 4, s"bad filter type $f on row $y")
      var j = 0
      while (j < stride) {
        val v = raw(y * (1 + stride) + 1 + j) & 0xFF
        val a = if (j >= 3) cur(j - 3) else 0
        val b = prev(j)
        val c = if (j >= 3) prev(j - 3) else 0
        cur(j) = f match {
          case 0 => v
          case 1 => (v + a) & 0xFF
          case 2 => (v + b) & 0xFF
          case 3 => (v + (a + b) / 2) & 0xFF
          case 4 => (v + paeth(a, b, c)) & 0xFF
        }
        j += 1
      }
      var x = 0
      while (x < width) {
        px(y * width + x) =
          (cur(3 * x) << 16) | (cur(3 * x + 1) << 8) | cur(3 * x + 2)
        x += 1
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    px
  }

  /** Re-inflate a PNG's IDAT stream and return the per-row filter
    * bytes — the independent walker PngSpec uses to assert the encoder
    * exercises multiple filter types (coverage of the filter space is
    * a property to test, not hope for — the QoiSpec discipline). */
  def filterBytes(bytes: Array[Byte]): Array[Int] = {
    val (w, h, _) = decode(bytes) // validates everything first
    val z = new java.io.ByteArrayOutputStream()
    var pos = 8
    def u32(o: Int): Long =
      ((bytes(o) & 0xFFL) << 24) | ((bytes(o + 1) & 0xFFL) << 16) |
        ((bytes(o + 2) & 0xFFL) << 8) | (bytes(o + 3) & 0xFFL)
    while (pos + 12 <= bytes.length) {
      val len = u32(pos).toInt
      if (new String(bytes, pos + 4, 4, "US-ASCII") == "IDAT")
        z.write(bytes, pos + 8, len)
      pos += 12 + len
    }
    val stride = 3 * w
    val raw = new Array[Byte](h * (1 + stride))
    val inf = inflater()
    inf.setInput(z.toByteArray)
    var off = 0
    while (!inf.finished() && off < raw.length)
      off += inf.inflate(raw, off, raw.length - off)
    Array.tabulate(h)(y => raw(y * (1 + stride)) & 0xFF)
  }
}
