package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ImageDupFixture

/** Pins every literal in [[ImageDupLayout]] (the byte layout the
 * q_m31–q_m34 oracle SQL reads off the imagedup fixture's hex) against
 * what the fixture generator actually writes. */
class ImageDupLayoutSpec extends AnyFunSuite {

  test("layout pin: VP8L header bits and EXIF twin lengths match the generator") {
    val bw = new ImageDupFixture.BitWriter
    ImageDupFixture.vp8lHeader(bw)
    assert(bw.bitCount == ImageDupLayout.Vp8lHeaderBits)
    val lengths = Seq(ImageDupFixture.exifPng(17).length,
      ImageDupFixture.exifPng(49).length).distinct.sorted
    assert(lengths == ImageDupLayout.ExifPngLengths)
  }

  test("layout pin: EXIF orientation and pixel offsets address the bytes exifPng writes") {
    import ImageDupLayout.{ExifOrientOffset, ExifPixelOffset}
    // ids 17, 49, 81 carry orientations 3, 6 and 8: both stored shapes
    Seq(17L, 49L, 81L).foreach { id =>
      val b = ImageDupFixture.exifPng(id)
      assert((b(ExifOrientOffset) & 0xff) == ImageDupFixture.exifOrientation(id))
      // the stored (un-rotated) pixels as a real PNG decoder sees them
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      val ws = img.getWidth
      for (v <- 0 until img.getHeight; u <- 0 until ws) {
        val row = ExifPixelOffset + v * (1 + 3 * ws)
        assert(b(row) == 0, s"id=$id row $v filter byte")
        assert((b(row + 1 + 3 * u) & 0xff) == img.getRaster.getSample(u, v, 0),
          s"id=$id pixel ($u, $v)")
      }
    }
  }
}
