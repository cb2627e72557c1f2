package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import Multimodal._

/** Every BMP pixel walker reads its header through `bmpGeometry`, so a
  * header outside the 24bpp contract gets the walker's "not a BMP" answer
  * (None, Nil or 0) instead of an exception or header bytes read as
  * pixels. */
class BmpHeaderSpec extends AnyFunSuite {

  /** Each walker's result, with None, Nil and 0 mapped to None. */
  private def walks(m: Array[Byte]): Seq[(String, Option[Any])] = Seq(
    "bmpChannelStats" -> bmpChannelStats(m),
    "bmpLuminance" -> bmpLuminance(m),
    "bmpGrayLevels" -> Some(bmpGrayLevels(m)).filter(_.nonEmpty),
    "resizeBmp" -> resizeBmp(m, 2, 2),
    "resizeBmpBilinear" -> resizeBmpBilinear(m, 2, 2),
    "letterboxBmp" -> letterboxBmp(m, 4, 4),
    "cropBmp" -> cropBmp(m, 0, 0, 1, 1),
    "flipBmp" -> flipBmp(m),
    "rotateBmp" -> rotateBmp(m),
    "patchStats" -> patchStats(m, 2),
    "channelStats" -> channelStats(m),
    "otsuThreshold" -> otsuThreshold(m),
    "equalizeBmp" -> equalizeBmp(m),
    "sobelEnergyBmp" -> sobelEnergyBmp(m),
    "bumpFirstPixelByte" -> bumpFirstPixelByte(m, 1),
    "adjustBmpBrightness" -> adjustBmpBrightness(m, 1),
    "bmpWeightedChecksum" -> Some(bmpWeightedChecksum(m)).filter(_ != 0L),
    "bmpPixelChecksum" -> Some(bmpPixelChecksum(m)).filter(_ != 0L),
    "bmpAverageHash" -> bmpAverageHash(m),
    "bmpDctHash" -> bmpDctHash(m))

  private val valid =
    buildBmp(2, 2, Array.tabulate[Byte](12)(i => (i * 20).toByte))

  test("a valid 24bpp BMP: every walker answers") {
    assert(bmpGeometry(valid).contains(Bmp(2, 2, 54, 8)))
    walks(valid).foreach { case (name, r) => assert(r.isDefined, name) }
  }

  test("a width whose row size wraps an Int is rejected, not walked") {
    // 64 bytes, width 0x3FFFFFFF, height 1: 3 * width overflows an Int,
    // so an Int row size comes out negative and passes a bounds check
    val m = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
      .put('B'.toByte).put('M'.toByte).putInt(64).putInt(0).putInt(54)
      .putInt(40).putInt(0x3FFFFFFF).putInt(1).putShort(1).putShort(24)
      .array()
    assert(bmpGeometry(m).isEmpty)
    walks(m).foreach { case (name, r) => assert(r.isEmpty, name) }
  }

  test("a pixel offset inside the 54 header bytes is rejected by every " +
      "walker") {
    // offset 0 would read the 'B', 'M' magic as the first pixel
    val m = valid.clone()
    ByteBuffer.wrap(m).order(ByteOrder.LITTLE_ENDIAN).putInt(10, 0)
    assert(bmpGeometry(m).isEmpty)
    walks(m).foreach { case (name, r) => assert(r.isEmpty, name) }
  }
}
