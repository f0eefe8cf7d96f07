package graft

/** Byte layout of the image near-duplicate fixture
 * (`fixtures/imagedup.parquet`, written by the test-scope generator
 * ImageDupFixture) that the q_m31–q_m34 oracle SQL reads straight off
 * the blob hex. Literal values: ImageDupLayoutSpec pins each one
 * against the bytes the generator writes, so a change to the fixture
 * layout fails a test instead of silently moving the oracle. */
object ImageDupLayout {

  /** Bit length of the constant VP8L header of the WebP-lossless
   * twins: the green code of pixel p starts at bit
   * Vp8lHeaderBits + 25·p of the VP8L payload. */
  val Vp8lHeaderBits: Int = 596

  /** Byte offset of the first IDAT scanline (its filter byte) in the
   * EXIF-oriented PNG twins: sig 8 + IHDR 25 + eXIf 38 + IDAT framing
   * 8 + zlib 2 + stored block header 5. */
  val ExifPixelOffset: Int = 86

  /** Byte offset of the orientation SHORT's low byte inside those
   * twins' eXIf TIFF payload. */
  val ExifOrientOffset: Int = 59

  /** Blob lengths of the EXIF-oriented twins, one per stored shape
   * (18×16 and 16×18), ascending — the q_m34 oracle's decodability
   * anchor alongside the 948-byte plain PNG. */
  val ExifPngLengths: Seq[Int] = Seq(986, 988)
}
