package graft.operators

/** TIFF container METADATA parsing (TIFF 6.0 spec — public; the same
  * IFD structure [[JpegCodec]] walks inside JPEG APP1/EXIF, here over
  * a standalone file). Dims/depth/channels for filtering and dedup
  * keys; strip DECODE (LZW/PackBits/JPEG-in-TIFF payloads) stays
  * honestly fenced like the other container codecs.
  *
  * Layout: 8-byte header — byte order "II" (little) or "MM" (big),
  * magic 42, IFD0 offset — then IFD0: entry count (2), 12-byte
  * entries (tag, type, count, value/offset), next-IFD offset. Parsed
  * tags: ImageWidth 0x0100, ImageLength 0x0101, BitsPerSample 0x0102,
  * SamplesPerPixel 0x0115 (SHORT/LONG, inline values).
  */
object TiffMeta {

  final case class TiffInfo(
      width: Int, height: Int, bitsPerSample: Int, samplesPerPixel: Int,
      bigEndian: Boolean, nIfdEntries: Int)

  /** True iff the payload leads with a TIFF byte-order mark + magic. */
  def isTiff(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 8 && {
      val ii = bytes(0) == 'I' && bytes(1) == 'I' &&
        (bytes(2) & 0xff) == 42 && bytes(3) == 0
      val mm = bytes(0) == 'M' && bytes(1) == 'M' &&
        bytes(2) == 0 && (bytes(3) & 0xff) == 42
      ii || mm
    }

  /** Parse IFD0 metadata; null for non-TIFF payloads, loud failure
    * for structurally corrupt ones. */
  def parse(bytes: Array[Byte]): TiffInfo = {
    if (!isTiff(bytes)) return null
    val be = bytes(0) == 'M'
    val ifd = Bytes.u32(bytes, 4, be)
    require(ifd >= 8 && ifd + 2 <= bytes.length, s"bad IFD0 offset $ifd")
    val n = Bytes.u16(bytes, ifd.toInt, be)
    require(n > 0, "empty IFD0")
    require(ifd + 2 + n * 12L + 4 <= bytes.length, "IFD0 overruns payload")
    var w = 0
    var h = 0
    var bps = 1 // spec default
    var spp = 1 // spec default
    for (i <- 0 until n) {
      val e = ifd.toInt + 2 + i * 12
      val tag = Bytes.u16(bytes, e, be)
      val typ = Bytes.u16(bytes, e + 2, be)
      val count = Bytes.u32(bytes, e + 4, be)
      // SHORT (3) inline in the first 2 value bytes; LONG (4) in all 4.
      // Multi-count BitsPerSample stores an offset — read the first
      // sample's value there (all samples equal in the files we emit;
      // mixed-depth planes would need the full array).
      def inlineVal: Int = typ match {
        case 3 => Bytes.u16(bytes, e + 8, be)
        case 4 => Bytes.u32(bytes, e + 8, be).toInt
        case other => throw new IllegalArgumentException(
          s"unsupported type $other for tag 0x${tag.toHexString}")
      }
      tag match {
        case 0x0100 => w = inlineVal
        case 0x0101 => h = inlineVal
        case 0x0102 =>
          bps =
            if (count == 1) inlineVal
            else {
              require(typ == 3, "BitsPerSample array must be SHORT")
              val off = Bytes.u32(bytes, e + 8, be)
              require(off + 2 <= bytes.length, "BitsPerSample offset overruns")
              Bytes.u16(bytes, off.toInt, be)
            }
        case 0x0115 => spp = inlineVal
        case _ => ()
      }
    }
    require(w > 0 && h > 0, "missing ImageWidth/ImageLength in IFD0")
    TiffInfo(w, h, bps, spp, be, n)
  }

  /** Minimal spec-valid TIFF skeleton (little-endian): header + IFD0
    * with ImageWidth/ImageLength/BitsPerSample/SamplesPerPixel and a
    * zero next-IFD pointer. 8 + 2 + 4·12 + 4 = **62 bytes** fixed —
    * gates predict size and every field in closed form. */
  def encode(width: Int, height: Int, bitsPerSample: Int = 8,
      samplesPerPixel: Int = 3): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff,
      s"bad dims ${width}x$height")
    require(bitsPerSample >= 1 && bitsPerSample <= 64 &&
      samplesPerPixel >= 1 && samplesPerPixel <= 8,
      s"bad depth $bitsPerSample x$samplesPerPixel")
    val out = new Array[Byte](62)
    out(0) = 'I'; out(1) = 'I'; out(2) = 42; out(3) = 0
    out(4) = 8 // IFD0 at offset 8
    def w16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    w16(8, 4) // four entries
    def entry(i: Int, tag: Int, v: Int): Unit = {
      val e = 10 + i * 12
      w16(e, tag); w16(e + 2, 3) // SHORT
      out(e + 4) = 1 // count 1 (little-endian 32-bit)
      w16(e + 8, v)
    }
    entry(0, 0x0100, width)
    entry(1, 0x0101, height)
    entry(2, 0x0102, bitsPerSample)
    entry(3, 0x0115, samplesPerPixel)
    // next-IFD pointer (bytes 58..61) stays zero
    out
  }
}
