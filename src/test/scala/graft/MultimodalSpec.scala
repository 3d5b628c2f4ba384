package graft

import java.nio.charset.StandardCharsets

import graft.ops.Multimodal
import org.scalatest.funsuite.AnyFunSuite

/** Codec-level properties of the multimodal PNG/WAV paths: the corpus
  * entries (m01–m07) verify pipeline results against DuckDB; these pin
  * the codecs themselves — a real javax.imageio / javax.sound encode +
  * decode must be lossless and deterministic for the oracle replay to be
  * sound.
  */
class MultimodalSpec extends AnyFunSuite {

  private def roundtrip(content: Array[Byte]): Unit = {
    val png = Multimodal.encodePng(content)
    // PNG magic: a real codec wrote this, not a fingerprint
    assert(png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47))
    val d = Multimodal.decodePng(png)
    assert(d.width == Multimodal.ImgWidth)
    assert(d.height == math.max(1, (content.length + 15) / 16))
    assert(d.pixels.take(content.length).toSeq == content.toSeq)
    // zero padding beyond the content
    assert(d.pixels.drop(content.length).forall(_ == 0))
  }

  test("png encode/decode roundtrips text bytes losslessly") {
    roundtrip("the quick brown fox jumps over the lazy dog"
      .getBytes(StandardCharsets.UTF_8))
  }

  test("png roundtrip: boundary sizes") {
    roundtrip(Array.emptyByteArray)
    roundtrip(Array.tabulate(1)(i => i.toByte))
    roundtrip(Array.tabulate(16)(i => (i * 7).toByte))
    roundtrip(Array.tabulate(17)(i => (i * 11).toByte))
    roundtrip(Array.tabulate(553)(i => ((i * 31 + 5) % 256).toByte))
  }

  test("png encoding is deterministic") {
    val content = Array.tabulate(200)(i => ((i * 13) % 256).toByte)
    assert(Multimodal.encodePng(content).toSeq ==
      Multimodal.encodePng(content).toSeq)
  }

  private def wavRoundtrip(content: Array[Byte]): Unit = {
    val wav = Multimodal.encodeWav(content)
    // RIFF magic: a real container, not a fingerprint
    assert(new String(wav.take(4), StandardCharsets.US_ASCII) == "RIFF")
    assert(new String(wav.slice(8, 12), StandardCharsets.US_ASCII) == "WAVE")
    val d = Multimodal.decodeWav(wav)
    assert(d.sampleRate == Multimodal.SampleRate)
    assert(d.channels == 1)
    assert(d.samples.toSeq == content.toSeq)
  }

  test("wav encode/decode roundtrips PCM samples losslessly") {
    wavRoundtrip("the quick brown fox jumps over the lazy dog"
      .getBytes(StandardCharsets.UTF_8))
    wavRoundtrip(Array.emptyByteArray)
    wavRoundtrip(Array.tabulate(1)(i => i.toByte))
    wavRoundtrip(Array.tabulate(553)(i => ((i * 31 + 5) % 256).toByte))
  }

  test("wav encoding is deterministic") {
    val content = Array.tabulate(200)(i => ((i * 13) % 256).toByte)
    assert(Multimodal.encodeWav(content).toSeq ==
      Multimodal.encodeWav(content).toSeq)
  }

  test("perceptual hash: gradient bits, clamp at 16, degenerate images") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 3 full rows of 16: sums 16*'a', 16*'b', 16*'a' -> bits "10"
    val txts = Seq(
      (1L, "a" * 16 + "b" * 16 + "a" * 16),
      (2L, "a" * 8),                  // < 1 full row -> empty hash
      (3L, "a" * 16 * 40))            // 40 rows -> clamped to 16 bits
    val docs = txts.toDF("doc_id", "text")
    val h = graft.ops.Multimodal
      .perceptualHashes(graft.ops.Multimodal.assets(docs))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h(1L) === "10")
    assert(h(2L) === "")
    assert(h(3L) === "0" * 16)
  }
}
