package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.Fixtures
import graft.operators.Bzip2

/** Cross-checked against the SYSTEM bzip2 binary — an independent
  * implementation of the format — in both directions, so the BWT
  * orientation, CRC variant, bit packing and run coding are pinned
  * externally, not against ourselves. */
class Bzip2Spec extends AnyFunSuite {

  private def haveSystemBzip2: Boolean =
    try {
      new ProcessBuilder("bzip2", "--help").start().waitFor()
      true
    } catch { case _: java.io.IOException => false }

  private def run(cmd: Seq[String], input: Array[Byte]): Array[Byte] = {
    val pb = new ProcessBuilder(cmd: _*)
    val p = pb.start()
    val out = new java.io.ByteArrayOutputStream()
    val feeder = new Thread(() => {
      p.getOutputStream.write(input)
      p.getOutputStream.close()
    })
    feeder.start()
    val buf = new Array[Byte](8192)
    var n = p.getInputStream.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = p.getInputStream.read(buf) }
    feeder.join()
    assert(p.waitFor() == 0, s"${cmd.mkString(" ")} failed")
    out.toByteArray
  }

  private val samples: Seq[Array[Byte]] = Seq(
    Array.emptyByteArray,
    "a".getBytes(UTF_8),
    "hello bzip2 world".getBytes(UTF_8),
    "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa".getBytes(UTF_8), // RLE1 territory
    ("the quick brown fox " * 100).getBytes(UTF_8),
    Array.tabulate(50000)(i => ((i * 131) % 251).toByte), // two encoder blocks
    Array.tabulate(300)(i => (i % 5).toByte))

  test("roundtrip: our encode -> our decode is identity at every size") {
    samples.foreach { raw =>
      assert(Bzip2.decode(Bzip2.encode(raw)).sameElements(raw),
        s"roundtrip failed at ${raw.length} bytes")
    }
  }

  test("cross-oracle: the system bunzip2 decodes our output") {
    assume(haveSystemBzip2)
    samples.foreach { raw =>
      assert(run(Seq("bzip2", "-dc"), Bzip2.encode(raw)).sameElements(raw),
        s"bunzip2 rejected our stream at ${raw.length} bytes")
    }
  }

  test("cross-oracle: we decode the system bzip2's output (real multi-table streams)") {
    assume(haveSystemBzip2)
    samples.foreach { raw =>
      assert(Bzip2.decode(run(Seq("bzip2", "-c"), raw)).sameElements(raw),
        s"our decoder rejected bzip2 output at ${raw.length} bytes")
    }
    // a bigger, structured payload exercises selectors + delta lengths
    val big = ("spark row table " * 20000).getBytes(UTF_8)
    assert(Bzip2.decode(run(Seq("bzip2", "-c"), big)).sameElements(big))
  }

  test("multi-stream concatenation decodes (pbzip2 layout)") {
    val a = "first stream ".getBytes(UTF_8)
    val b = "second".getBytes(UTF_8)
    val cat = Bzip2.encode(a) ++ Bzip2.encode(b)
    assert(Bzip2.decode(cat).sameElements(a ++ b))
  }

  test("corruption fails loudly: magic, block CRC, stream CRC, truncation, randomized bit") {
    val good = Bzip2.encode("payload under test, long enough to matter".getBytes(UTF_8))
    val badHeader = good.clone(); badHeader(0) = 'A'
    assertThrows[IllegalArgumentException](Bzip2.decode(badHeader))
    assertThrows[IllegalArgumentException](Bzip2.decode(good.dropRight(3)))
    // flip a payload bit deep inside: some CRC tier must catch it
    val flipped = good.clone(); flipped(good.length / 2) = (flipped(good.length / 2) ^ 0x10).toByte
    assertThrows[IllegalArgumentException](Bzip2.decode(flipped))
    // set the randomized bit (bit after the 32-bit block CRC): byte
    // layout: 4 hdr + 6 magic + 4 crc = byte 14, MSB
    val rand = good.clone(); rand(14) = (rand(14) | 0x80).toByte
    val ex = intercept[IllegalArgumentException](Bzip2.decode(rand))
    assert(ex.getMessage.contains("randomized"))
  }

  test("decodes a real .bz2 written through the system tool's file path") {
    assume(haveSystemBzip2)
    val raw = ("file-path sanity " * 50).getBytes(UTF_8)
    val dir = Paths.get(Fixtures.scratchDir("bz2spec"))
    val f = dir.resolve("x")
    Files.write(f, raw)
    assert(new ProcessBuilder("bzip2", "-f", f.toString).start().waitFor() == 0)
    val bz = Files.readAllBytes(dir.resolve("x.bz2"))
    assert(Bzip2.decode(bz).sameElements(raw))
  }
}
