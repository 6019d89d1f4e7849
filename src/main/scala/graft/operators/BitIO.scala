package graft.operators

/** The byte and bit I/O of the hand decoders and encoders.
  *
  *  - [[Bytes]]: fixed-width integer reads at a byte offset.
  *  - [[LsbBitReader]] and [[LsbBitWriter]]: values packed from the
  *    least-significant bit of each byte (RFC 1951 §3.1.1): deflate,
  *    brotli, WebP lossless (VP8L), zstd's FSE table descriptions and
  *    sequence stream, and the parquet bit-packed runs.
  *  - [[MsbBitReader]] and [[MsbBitWriter]]: values packed from the
  *    most-significant bit: bzip2, FLAC, HEVC and AV1 headers.
  *
  * Every read past the end throws `IllegalArgumentException("truncated
  * <what>…")`, so a cut stream fails the same way in every format.
  * Format steps (Huffman walks, exp-Golomb, unary codes, padding
  * checks, HEVC emulation prevention) stay in their format's file as
  * functions over these classes.
  *
  * The readers that keep their own framing:
  *  - JPEG's entropy reader and writer: 0xFF bytes are stuffed with 0x00
  *    and markers can end the scan mid-stream;
  *  - VP8's boolean decoder: arithmetic-coded, not a bit stream;
  *  - Zstd's backward reader: reads from the last byte toward the first,
  *    starting after a sentinel bit;
  *  - the LZMA range decoder: arithmetic-coded;
  *  - the Thrift compact and Avro readers: byte-granular varints. */
private[graft] object Bytes {
  private def need(b: Array[Byte], off: Int, n: Int): Unit =
    if (off < 0 || off > b.length - n)
      throw new IllegalArgumentException(
        s"truncated input: $n-byte read at offset $off of ${b.length} bytes")

  def u8(b: Array[Byte], off: Int): Int = { need(b, off, 1); b(off) & 0xff }

  def le16(b: Array[Byte], off: Int): Int = {
    need(b, off, 2)
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  }

  def be16(b: Array[Byte], off: Int): Int = {
    need(b, off, 2)
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  }

  def le24(b: Array[Byte], off: Int): Int = {
    need(b, off, 3)
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) | ((b(off + 2) & 0xff) << 16)
  }

  /** Raw 32 bits: a value ≥ 2^31 comes back negative. */
  def le32(b: Array[Byte], off: Int): Int = {
    need(b, off, 4)
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  }

  /** Raw 32 bits: a value ≥ 2^31 comes back negative. */
  def be32(b: Array[Byte], off: Int): Int = {
    need(b, off, 4)
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  }

  def le32u(b: Array[Byte], off: Int): Long = le32(b, off) & 0xffffffffL
  def be32u(b: Array[Byte], off: Int): Long = be32(b, off) & 0xffffffffL
  def le64(b: Array[Byte], off: Int): Long = le32u(b, off) | (le32(b, off + 4).toLong << 32)
  def be64(b: Array[Byte], off: Int): Long = (be32(b, off).toLong << 32) | be32u(b, off + 4)

  /** TIFF and EXIF: the byte order is set by the file's own header. */
  def u16(b: Array[Byte], off: Int, bigEndian: Boolean): Int =
    if (bigEndian) be16(b, off) else le16(b, off)
  def u32(b: Array[Byte], off: Int, bigEndian: Boolean): Long =
    if (bigEndian) be32u(b, off) else le32u(b, off)
}

/** The state both bit readers share: bytes `[off, end)` of `b` (`end`
  * clipped to `b.length`) loaded through a 64-bit word holding `cnt`
  * unread bits. */
private[graft] sealed abstract class BitReaderBase(b: Array[Byte], off: Int, end: Int,
    what: String) {
  require(off >= 0, s"$what: negative start offset $off")
  protected final val lim = math.min(end, b.length)
  protected final var pos = off
  protected final var buf = 0L
  protected final var cnt = 0

  protected final def truncated(n: Int): Nothing =
    throw new IllegalArgumentException(
      s"truncated $what: $n more bits wanted at byte $bytePos, $bitsLeft left")

  /** Drop the bits left in the current byte. */
  def align(): Unit

  /** The byte holding the next unread bit (the next whole byte when
    * aligned). */
  final def bytePos: Int = pos - ((cnt + 7) >> 3)

  /** Bits read since `off`. */
  final def bitPos: Long = (pos - off) * 8L - cnt

  final def bitsLeft: Long = (lim - pos) * 8L + cnt

  /** Continue at byte `p`, dropping whatever is buffered. */
  final def seek(p: Int): Unit = {
    if (p < off || p > lim)
      throw new IllegalArgumentException(s"truncated $what: seek to byte $p of $lim")
    pos = p; buf = 0L; cnt = 0
  }

  protected final def badWidth(n: Int): Nothing =
    throw new IllegalArgumentException(s"$what: $n-bit read")

  /** Check the width, then load whole bytes until `n` bits are buffered.
    * The throws sit in their own methods to keep this one small enough
    * to inline into the per-bit loops. */
  protected final def fill(n: Int): Unit = {
    if (n < 0 || n > 32) badWidth(n)
    while (cnt <= 56 && pos < lim) { load(b(pos) & 0xffL); pos += 1; cnt += 8 }
    if (n > cnt) truncated(n)
  }

  /** Add one byte to the buffer (`cnt` counts it after the call). */
  protected def load(byte: Long): Unit

  /** The next `n` (0–32) bits as an unsigned value (32 fill the Int). */
  def bits(n: Int): Int
}

/** LSB-first bit reader: the first bit is bit 0 of byte `off`. */
private[graft] final class LsbBitReader(b: Array[Byte], off: Int, end: Int, what: String)
    extends BitReaderBase(b, off, end, what) {

  protected def load(byte: Long): Unit = buf |= byte << cnt

  def bits(n: Int): Int = {
    if (n > cnt || n > 32 || n < 0) fill(n)
    val v = (buf & ((1L << n) - 1)).toInt
    buf >>>= n
    cnt -= n
    v
  }

  /** One bit. Loads a single byte when empty, which keeps this small
    * enough to inline into the Huffman walks. */
  def bit(): Int = {
    if (cnt == 0) { if (pos >= lim) truncated(1); buf = b(pos) & 0xffL; pos += 1; cnt = 8 }
    val v = buf.toInt & 1
    buf >>>= 1
    cnt -= 1
    v
  }

  def align(): Unit = { buf >>>= cnt & 7; cnt &= ~7 }

  /** The next `n` (0–64) bits as an unsigned value. */
  def bitsLong(n: Int): Long =
    if (n <= 32) bits(n) & 0xffffffffL
    else if (n > 64) badWidth(n)
    else (bits(32) & 0xffffffffL) | ((bits(n - 32) & 0xffffffffL) << 32)
}

/** MSB-first bit reader: the first bit is bit 7 of byte `off`. */
private[graft] final class MsbBitReader(b: Array[Byte], off: Int, end: Int, what: String)
    extends BitReaderBase(b, off, end, what) {

  protected def load(byte: Long): Unit = buf = (buf << 8) | byte

  def bits(n: Int): Int = {
    if (n > cnt || n > 32 || n < 0) fill(n)
    cnt -= n
    ((buf >>> cnt) & ((1L << n) - 1)).toInt
  }

  /** One bit, loading a single byte when empty (see [[LsbBitReader.bit]]). */
  def bit(): Int = {
    if (cnt == 0) { if (pos >= lim) truncated(1); buf = b(pos) & 0xffL; pos += 1; cnt = 8 }
    cnt -= 1
    (buf >>> cnt).toInt & 1
  }

  def flag(): Boolean = bit() == 1

  def align(): Unit = cnt &= ~7

  /** Skip `n` bits. */
  def skip(n: Long): Unit = {
    if (n > bitsLeft) truncated(n.toInt)
    var k = n
    while (k > 0) { val s = math.min(k, 32L).toInt; bits(s); k -= s }
  }
}

/** MSB-first bit writer, the inverse of [[MsbBitReader]]. */
private[graft] final class MsbBitWriter(sizeHint: Int = 64) {
  private val out = new java.io.ByteArrayOutputStream(math.max(64, sizeHint))
  private var acc = 0L
  private var cnt = 0

  /** The low `n` (≤ 32) bits of `v`, most significant first. */
  def putBits(v: Int, n: Int): Unit = {
    acc = (acc << n) | (v & ((1L << n) - 1))
    cnt += n
    while (cnt >= 8) { cnt -= 8; out.write((acc >>> cnt).toInt & 0xff) }
  }

  /** Zero-pad to the next byte boundary. */
  def align(): Unit = if (cnt > 0) putBits(0, 8 - cnt)

  /** The bytes written so far, the last one zero-padded. */
  def result(): Array[Byte] = { align(); out.toByteArray }
}
