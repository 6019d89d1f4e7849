package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bytes, Gzip, LsbBitReader, LsbBitWriter, MsbBitReader, MsbBitWriter}

/** The shared byte and bit I/O layer (`operators/BitIO.scala`): each
  * writer round-trips through its reader, a read past the end is an
  * IllegalArgumentException naming the stream, the byte helpers agree
  * with `java.nio.ByteBuffer`, and no private copy grows back. */
class BitIoSpec extends AnyFunSuite {

  /** Seeded (value, width) pairs, widths 0–32; width -1 marks an align. */
  private def script(seed: Long): Seq[(Int, Int)] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(3000) {
      val w = rnd.nextInt(34) - 1
      val v = rnd.nextInt()
      (if (w <= 0 || w == 32) v else v & ((1 << w) - 1), w)
    }
  }

  private def replay(seed: Long, put: (Int, Int) => Unit, align: () => Unit): Unit =
    script(seed).foreach { case (v, w) => if (w < 0) align() else put(v, w) }

  private def check(seed: Long, read: Int => Int, align: () => Unit): Unit =
    script(seed).zipWithIndex.foreach { case ((v, w), i) =>
      if (w < 0) align()
      else {
        val got = read(w)
        assert(got == (if (w == 0) 0 else v), s"step $i: $w bits read $got, wrote $v")
      }
    }

  test("LsbBitWriter round-trips through LsbBitReader, widths 0-32 with aligns") {
    for (seed <- 1L to 5L) {
      val w = new LsbBitWriter()
      replay(seed, w.putBits, () => w.align())
      val b = w.result()
      val r = new LsbBitReader(b, 0, b.length, "test stream")
      check(seed, r.bits, () => r.align())
      assert(r.bitsLeft < 8)
    }
  }

  test("MsbBitWriter round-trips through MsbBitReader, widths 0-32 with aligns") {
    for (seed <- 1L to 5L) {
      val w = new MsbBitWriter()
      replay(seed, w.putBits, () => w.align())
      val b = w.result()
      val r = new MsbBitReader(b, 0, b.length, "test stream")
      check(seed, r.bits, () => r.align())
      assert(r.bitsLeft < 8)
    }
  }

  test("LsbBitReader.bitsLong reads widths up to 64, and a reader honours off and end") {
    val rnd = new java.util.Random(9)
    val vals = Seq.fill(200) { val n = 1 + rnd.nextInt(64); (rnd.nextLong() >>> (64 - n), n) }
    val w = new LsbBitWriter()
    vals.foreach { case (v, n) =>
      w.putBits(v.toInt, math.min(n, 32))
      if (n > 32) w.putBits((v >>> 32).toInt, n - 32)
    }
    val body = w.result()
    val framed = Array[Byte](7, 7, 7) ++ body ++ Array[Byte](9, 9)
    val r = new LsbBitReader(framed, 3, 3 + body.length, "test stream")
    vals.foreach { case (v, n) => assert(r.bitsLong(n) == v) }
    r.align()
    assert(r.bitsLeft == 0 && r.bytePos == 3 + body.length)
    intercept[IllegalArgumentException](r.bits(1)) // the 9s past `end` stay unread
  }

  test("a read past the end throws IllegalArgumentException naming the stream") {
    val b = Array[Byte](1, 2, 3)
    for (r <- Seq(new LsbBitReader(b, 1, 3, "widget stream"),
        new MsbBitReader(b, 1, 3, "widget stream"))) {
      r.bits(12)
      val e = intercept[IllegalArgumentException](r.bits(5))
      assert(e.getMessage.startsWith("truncated widget stream"), e.getMessage)
      intercept[IllegalArgumentException](r.bits(33))
    }
    // inflate keeps "deflate" in its message (ZipCodec's corrupt-entry
    // test matches on it)
    val gz = Gzip.gzip(("deflate me " * 50).getBytes(UTF_8))
    val cut = intercept[IllegalArgumentException](Gzip.inflateRaw(gz.take(16), 10))
    assert(cut.getMessage.contains("deflate"), cut.getMessage)
  }

  test("Bytes readers equal ByteBuffer in the same byte order, values >= 2^31 included") {
    val rnd = new java.util.Random(31)
    for (_ <- 1 to 200) {
      val b = new Array[Byte](24)
      rnd.nextBytes(b)
      b(rnd.nextInt(24)) = 0xff.toByte // a set top bit at some offset
      val le = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      val be = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
      for (off <- 0 to 16) {
        assert(Bytes.u8(b, off) == (b(off) & 0xff))
        assert(Bytes.le16(b, off) == (le.getShort(off) & 0xffff))
        assert(Bytes.be16(b, off) == (be.getShort(off) & 0xffff))
        assert(Bytes.le24(b, off) == (le.getInt(off) & 0xffffff))
        assert(Bytes.le32(b, off) == le.getInt(off))
        assert(Bytes.be32(b, off) == be.getInt(off))
        assert(Bytes.le32u(b, off) == (le.getInt(off) & 0xffffffffL) && Bytes.le32u(b, off) >= 0)
        assert(Bytes.be32u(b, off) == (be.getInt(off) & 0xffffffffL) && Bytes.be32u(b, off) >= 0)
        assert(Bytes.le64(b, off) == le.getLong(off))
        assert(Bytes.be64(b, off) == be.getLong(off))
        for (big <- Seq(false, true)) {
          val bb = if (big) be else le
          assert(Bytes.u16(b, off, big) == (bb.getShort(off) & 0xffff))
          assert(Bytes.u32(b, off, big) == (bb.getInt(off) & 0xffffffffL))
        }
      }
    }
    val top = Array[Byte](0, 0, 0, 0x80.toByte)
    assert(Bytes.le32u(top, 0) == 0x80000000L && Bytes.le32(top, 0) == Int.MinValue)
    assert(Bytes.be32u(top.reverse, 0) == 0x80000000L)
    for (off <- Seq(-1, 1, 4)) intercept[IllegalArgumentException](Bytes.le32(top, off))
    intercept[IllegalArgumentException](Bytes.le64(top, 0))
  }

  test("one definition each: no private byte helpers or bit readers/writers outside BitIO") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd has no $root)")
    val copy = raw"(def (le|be)(16|24|32|64)\(|def u(16|32)\(|class \w*Bit(Reader|Writer)\b)".r
    // readers and writers with format-specific framing (BitIO's doc
    // comment says why each stays)
    val allowed = Set("BitIO.scala", "LsbBitWriter.scala")
    val allowedLines = Set("JpegCodec.scala: private final class BitWriter(")
    val walk = Files.walk(root)
    val found = try walk.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => allowed(p.getFileName.toString))
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), UTF_8)
        src.split("\n").zipWithIndex.collect {
          case (line, i) if copy.findFirstIn(line).nonEmpty &&
              !allowedLines.exists(a => s"${p.getFileName}: ${line.trim}".startsWith(a)) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }
    finally walk.close()
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
