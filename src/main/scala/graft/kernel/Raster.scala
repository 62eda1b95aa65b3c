package graft.kernel

import java.awt.image.{BufferedImage, ComponentSampleModel, DataBufferByte, DataBufferInt}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Minimal raster kernel for the Picture-crop embed: decode the page PNG,
  * crop a cell bbox with PIL semantics, re-encode as a base64 PNG data URI
  * (reference: `image.crop((x1,y1,x2,y2))` + `PILimage_to_base64`,
  * format_transformer.py:169-172 / image_utils.py:67-71).
  *
  * Lives in `graft.kernel` (not `graft.ops.MultimodalOps.Codec`, its
  * sibling) so the kernel keeps a one-way dependency on nothing above it.
  * PNG bytes differ from PIL's encoder output by construction (different
  * compressors); what is contract here is the URI scheme and the DECODED
  * pixel content of the crop, which the golden spec pins.
  */
object Raster {

  // ImageIO's default scratch cache is FILE-backed: every read/write over
  // a stream stages through a temp file on disk (FileCacheImageInput/
  // OutputStream). In-memory payloads gain nothing from that and pay a
  // file create+write+delete per Picture crop — executor thread samples
  // put the raster path at ~24% of extraction kernel time. Memory staging
  // is byte-identical output, just without the syscalls. (JVM-global;
  // MultimodalOps.Codec sets it too — either may class-load first.)
  ImageIO.setUseCache(false)

  /** (width, height, opaque) from the PNG IHDR / JPEG SOF header WITHOUT
    * decoding pixel data — the hot-path dims probe for image payloads
    * (a full ImageIO decode per image doc was ~8× kernel wall). `opaque` =
    * the format cannot carry alpha (JPEG always; PNG color types 0/2):
    * only such images take the embed-source-bytes fast path, because the
    * reference flattens RGBA onto white via to_rgb (image_utils.py:74-80)
    * and an alpha-preserving byte-reuse would diverge. */
  def headerInfo(bytes: Array[Byte]): Option[(Int, Int, Boolean)] = {
    def be32(i: Int): Int =
      ((bytes(i) & 0xff) << 24) | ((bytes(i + 1) & 0xff) << 16) |
        ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
    def be16(i: Int): Int = ((bytes(i) & 0xff) << 8) | (bytes(i + 1) & 0xff)
    if (bytes.length >= 26 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G' && bytes(12) == 'I' && bytes(13) == 'H' &&
      bytes(14) == 'D' && bytes(15) == 'R') {
      val w = be32(16); val h = be32(20)
      val colorType = bytes(25) & 0xff
      if (w > 0 && h > 0) Some((w, h, colorType == 0 || colorType == 2)) else None
    } else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
      // scan JPEG segments for a start-of-frame marker (C0–CF minus C4/C8/CC)
      var i = 2
      while (i + 1 < bytes.length && (bytes(i) & 0xff) == 0xff) {
        // skip 0xFF fill/padding bytes before the marker byte (legal per
        // ITU T.81 §B.1.1.2) — treating a pad byte as the marker would
        // read a bogus segment length and desynchronize the scan
        var m = i + 1
        while (m < bytes.length && (bytes(m) & 0xff) == 0xff) m += 1
        if (m >= bytes.length) return None
        val marker = bytes(m) & 0xff
        if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (m + 7 >= bytes.length) return None
          val h = be16(m + 4); val w = be16(m + 6)
          return if (w > 0 && h > 0) Some((w, h, true)) else None
        }
        if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7) || marker == 0x01)
          i = m + 1 // no-payload markers
        else {
          if (m + 2 >= bytes.length) return None
          i = m + 1 + be16(m + 1) // length field includes its own 2 bytes
        }
      }
      None
    } else None
  }

  /** Cheap structural completeness check for the header-probe fast path:
    * a PNG must end with the fixed 12-byte IEND chunk; a JPEG must carry
    * an EOI marker (FF D9) within its last 64 bytes (trailing junk after
    * EOI is common in the wild; a conforming encoder ends exactly there).
    * Catches TRUNCATION — the corruption class real crawls and the fuzz
    * battery actually produce — without touching pixel data. A payload
    * that fails this check falls back to the full decode, which throws on
    * genuinely broken bytes → typed error row. */
  def trailerOk(bytes: Array[Byte]): Boolean = {
    val n = bytes.length
    if (n >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P') {
      // the full fixed IEND chunk, anywhere in the last 512 bytes
      // (conforming encoders end exactly there; some files carry junk)
      val iend = Array[Int](0, 0, 0, 0, 'I', 'E', 'N', 'D', 0xae, 0x42, 0x60, 0x82)
      var i = n - 12
      val stop = math.max(0, n - 512)
      while (i >= stop) {
        var j = 0
        while (j < 12 && (bytes(i + j) & 0xff) == iend(j)) j += 1
        if (j == 12) return true
        i -= 1
      }
      false
    } else {
      var i = n - 2
      val stop = math.max(0, n - 512)
      while (i >= stop) {
        if ((bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xd9) return true
        i -= 1
      }
      false
    }
  }

  /** Decode PNG/JPEG bytes; throws on undecodable payloads (callers fall
    * back to the placeholder URI). */
  def decode(bytes: Array[Byte]): BufferedImage = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    if (img == null) throw new IllegalArgumentException("undecodable raster")
    img
  }

  /** PIL `Image.crop((x1, y1, x2, y2))` semantics on an RGB view: output
    * is (x2-x1)×(y2-y1); pixels outside the source image are black (PIL
    * zero-fills out-of-bounds regions); degenerate boxes (x2<=x1 or
    * y2<=y1) are rejected — post_process_cells' is_legal_bbox guarantees
    * they never reach rendering on the trusted path. */
  def pilCrop(img: BufferedImage, x1: Int, y1: Int, x2: Int, y2: Int): BufferedImage = {
    require(x2 > x1 && y2 > y1, s"degenerate crop box ($x1,$y1,$x2,$y2)")
    val w = x2 - x1
    val h = y2 - y1
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val sx1 = math.max(x1, 0); val sy1 = math.max(y1, 0)
    val sx2 = math.min(x2, img.getWidth); val sy2 = math.min(y2, img.getHeight)
    val cw = sx2 - sx1; val ch = sy2 - sy1
    if (cw > 0 && ch > 0) (img.getType, img.getRaster.getSampleModel) match {
      case (BufferedImage.TYPE_3BYTE_BGR, sm: ComponentSampleModel)
          if img.getRaster.getSampleModelTranslateX == 0 && img.getRaster.getSampleModelTranslateY == 0 =>
        // what ImageIO decodes RGB PNG pages to: sRGB 8-bit components, so
        // getRGB is the identity on the bytes — copy them straight into the
        // output ints (~10× faster than getRGB's per-pixel colormodel call)
        val src = img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte]
        val bytes = src.getData
        val dst = out.getRaster.getDataBuffer.asInstanceOf[DataBufferInt].getData
        val (ps, ss) = (sm.getPixelStride, sm.getScanlineStride)
        val off = sm.getBandOffsets
        var y = 0
        while (y < ch) {
          var s = src.getOffset + (sy1 + y) * ss + sx1 * ps
          var d = (sy1 - y1 + y) * w + (sx1 - x1)
          val end = d + cw
          while (d < end) {
            dst(d) = ((bytes(s + off(0)) & 0xff) << 16) | ((bytes(s + off(1)) & 0xff) << 8) |
              (bytes(s + off(2)) & 0xff)
            s += ps; d += 1
          }
          y += 1
        }
      case _ =>
        // bulk row transfer (single colormodel conversion pass) — per-pixel
        // getRGB/setRGB was the extraction hot path in thread samples
        val px = img.getRGB(sx1, sy1, cw, ch, null, 0, cw)
        var i = 0
        while (i < px.length) { px(i) &= 0xffffff; i += 1 }
        out.setRGB(sx1 - x1, sy1 - y1, cw, ch, px, 0, cw)
    }
    out
  }

  /** `data:image/png;base64,...` of the image (PILimage_to_base64 shape). */
  def pngDataUri(img: BufferedImage): String = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    "data:image/png;base64," + java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }
}
