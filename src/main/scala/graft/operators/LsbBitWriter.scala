package graft.operators

/** The LSB-first bit writer of the DEFLATE family (RFC 1951 §3.1.1):
  * deflate/gzip/zlib, brotli (RFC 7932) and WebP lossless (VP8L).
  * Values are packed starting at the least-significant bit of each
  * byte; prefix-code words go most-significant code bit first. Bits are
  * batched through a 64-bit buffer and whole bytes flushed at once; a
  * final partial byte is zero-padded. The MSB-first writers (bzip2,
  * FLAC, zstd, JPEG, AV1) are a different convention and keep their
  * own. */
private[graft] final class LsbBitWriter(sizeHint: Int = 1024) {
  private val buf = new java.io.ByteArrayOutputStream(math.max(64, sizeHint))
  private var bitBuf = 0L
  private var bitCnt = 0

  /** The low `n` (≤ 32) bits of `v`, LSB-first. */
  def putBits(v: Int, n: Int): Unit = {
    bitBuf |= (v.toLong & ((1L << n) - 1)) << bitCnt
    bitCnt += n
    while (bitCnt >= 8) {
      buf.write((bitBuf & 0xffL).toInt)
      bitBuf >>>= 8
      bitCnt -= 8
    }
  }

  /** One `len`-bit prefix-code word, MSB of the word first (the decoder
    * builds `code = code << 1 | bit`): bit-reverse, then one write. */
  def putCode(code: Int, len: Int): Unit =
    if (len > 0) putBits(Integer.reverse(code) >>> (32 - len), len)

  /** Zero-pad to the next byte boundary. */
  def align(): Unit =
    if (bitCnt > 0) { buf.write((bitBuf & 0xffL).toInt); bitBuf = 0L; bitCnt = 0 }

  /** Align, then copy `len` raw bytes of `b` from `off`. */
  def putBytes(b: Array[Byte], off: Int, len: Int): Unit = { align(); buf.write(b, off, len) }

  /** The bytes written so far, the last one zero-padded. */
  def result(): Array[Byte] = { align(); buf.toByteArray }
}
