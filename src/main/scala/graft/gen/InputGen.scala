package graft.gen

import graft.core.Categories
import graft.kernel.PdfLite
import java.nio.charset.StandardCharsets

/** Deterministic synthetic Common-Crawl-style input table
  * (`input_hint` schema: url, warc_ts, html:binary, text, lang).
  *
  * Seeded, splittable (pure function of (seed, docId) — no mutable RNG
  * stream), so generation distributes embarrassingly across executors via
  * `spark.range(n).map(genRow)`. Payload mix (FIXTURES.md §1):
  *   60% HTML pages, 25% PDF-lite docs, 10% garbled model-output-style
  *   text (repair path), 5% truncated PDF-lite (error path).
  * Host distribution is skewed: one hot host holds ~30% of urls
  * (FIXTURES.md §4 — exercises skew salting).
  */
object InputGen {

  /** Bump when the generated corpus changes shape/content — cache keys for
    * materialized inputs (graft.Bench) include it so a round never
    * benchmarks a stale corpus. (r4: image payload kind, scanned PDFs;
    * r4d: deterministic cross-host outlinks in the aside rail — extracted
    * text per url is UNCHANGED, only the link graph appeared.) */
  val CorpusVersion = "r4d"

  /** splitmix64 — stateless, avalanche-complete. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long, docId: Long, stream: Long) {
    private var counter: Long = mix(seed) ^ mix(docId * 0x632be59bd9b4e019L) ^ mix(stream * 0x2545f4914f6cdd1dL)
    def nextLong(): Long = { counter = mix(counter); counter }
    def nextInt(bound: Int): Int = (math.floorMod(nextLong(), bound.toLong)).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
    def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.length))
  }

  val Langs: Vector[String] = Vector("en", "zh", "ru", "bo", "kn", "nl", "zh-Hant")

  val WordBank: Map[String, Vector[String]] = Map(
    "en" -> Vector("data", "pipeline", "layout", "document", "table", "value",
      "page", "scan", "batch", "query", "merge", "column", "order", "shuffle",
      "partition", "throughput", "extraction", "content", "heading", "footer"),
    "zh" -> Vector("数据", "管道", "布局", "文档", "表格", "数值", "页面", "扫描",
      "批量", "查询", "合并", "分区", "吞吐量", "抽取", "内容", "标题"),
    "ru" -> Vector("данные", "конвейер", "макет", "документ", "таблица",
      "значение", "страница", "партия", "запрос", "слияние", "колонка",
      "порядок", "раздел", "контент"),
    "bo" -> Vector("གཞི་གྲངས", "ཡིག་ཆ", "རེའུ་མིག", "ཤོག་ངོས", "བཙལ་འདྲི",
      "ནང་དོན", "ཁ་བྱང", "སྒྲིག་བཀོད"),
    "kn" -> Vector("ದತ್ತಾಂಶ", "ದಾಖಲೆ", "ಕೋಷ್ಟಕ", "ಪುಟ", "ಪ್ರಶ್ನೆ", "ವಿಷಯ",
      "ಶೀರ್ಷಿಕೆ", "ವಿನ್ಯಾಸ", "ಅಂಕಣ"),
    "nl" -> Vector("gegevens", "pijplijn", "indeling", "document", "tabel",
      "waarde", "pagina", "batch", "zoekopdracht", "samenvoegen", "kolom",
      "volgorde", "inhoud", "koptekst"),
    "zh-Hant" -> Vector("數據", "管道", "佈局", "文檔", "表格", "數值", "頁面",
      "掃描", "批量", "查詢", "合併", "分區", "吞吐量", "抽取", "內容", "標題"))

  val Formulas: Vector[String] = Vector(
    "E = mc^2", "\\sum_{i=0}^{n} i^2 = \\frac{n(n+1)(2n+1)}{6}",
    "\\alpha + \\beta = \\gamma", "$$\\int_0^1 x\\,dx = \\tfrac12$$",
    "\\frac{\\partial f}{\\partial x}", "e^{i\\pi} + 1 = 0")

  val HotHost = "host0"
  val NumHosts = 50

  final case class Row(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
      text: String, lang: String)

  def hostOf(seed: Long, docId: Long): String = {
    val h = mix(seed ^ mix(docId * 31L))
    if (math.floorMod(h, 100L) < 30) HotHost
    else s"host${1 + math.floorMod(h >>> 8, (NumHosts - 1).toLong)}"
  }

  def langOf(seed: Long, docId: Long): String =
    Langs((math.floorMod(mix(seed ^ docId), Langs.length.toLong)).toInt)

  def kindOf(seed: Long, docId: Long): String = {
    val k = math.floorMod(mix(seed * 7L ^ docId), 20L)
    if (k < 12) { if (isImageDoc(docId)) "image" else "html" }
    else if (k < 17) "pdf" else if (k < 19) "garbled" else "truncated"
  }

  /** 1-in-12 of the html share are PNG/JPEG payloads (~5% of the corpus) —
    * the reference's first-class image route (parser.py:252-256,
    * consts.py:5), exercised at verify/bench scale. */
  def isImageDoc(docId: Long): Boolean =
    math.floorMod(mix(docId ^ 0x1a4e5L), 12L) == 0L

  def sentence(rng: Rng, lang: String, words: Int): String = {
    val bank = WordBank(lang)
    val sep = if (lang.startsWith("zh") || lang == "bo") "" else " "
    (0 until words).map(_ => rng.pick(bank)).mkString(sep) +
      (if (lang.startsWith("zh")) "。" else ".")
  }

  def paragraph(rng: Rng, lang: String): String =
    (0 until (2 + rng.nextInt(4))).map(_ => sentence(rng, lang, 5 + rng.nextInt(12))).mkString(" ")

  def generate(seed: Long, docId: Long): Row = {
    val host = hostOf(seed, docId)
    val lang = langOf(seed, docId)
    val kind = kindOf(seed, docId)
    val url = s"https://$host.example/$kind/doc$docId"
    val ts = new java.sql.Timestamp(1704067200000L + docId * 137000L) // 2024-01-01 + stride
    val rng = new Rng(seed, docId, 1L)
    val (payload, sidecar) = kind match {
      case "html" =>
        val (bytes, text) = htmlPayload(rng, lang, docId)
        (bytes, text)
      case "image" =>
        (imagePayload(rng, docId), "") // a raster carries no extractable text
      case "pdf" if isRealPdfDoc(docId) && (lang == "en" || lang == "nl") =>
        // real `%PDF-` payload → exercises the PdfReal text-layer parser
        // end-to-end (Latin-1-capable langs only: simple-font Tj strings
        // cannot carry CJK/Indic text)
        realPdfPayload(rng, lang, docId)
      case "pdf" =>
        val doc = pdfPayload(rng, lang, docId)
        (PdfLite.serialize(doc), doc.pages.flatMap(_.blocks.map(_.text)).mkString(" "))
      case "garbled" =>
        val s = garbledPayload(rng, lang)
        (s.getBytes(StandardCharsets.UTF_8), "")
      case "truncated" =>
        val doc = pdfPayload(rng, lang, docId)
        val full = PdfLite.serialize(doc)
        (full.take(math.max(8, full.length / 3)), "")
    }
    Row(url, ts, payload, sidecar, lang)
  }

  /** Deterministic cross-host outlinks for the aside rail — a pure
    * function of docId, NOT of the shared rng stream, so every other byte
    * of the page is unchanged by their addition (the aside is dropped by
    * the boilerplate heuristics, so extracted text/digest are unchanged
    * too). Host skew mirrors hostOf: ~30% of references hit HotHost —
    * giving the host graph the same power-law-ish shape a real crawl has. */
  def outlinks(docId: Long): Seq[String] = {
    val n = 2 + math.floorMod(mix(docId ^ 0x715eabdL), 3L).toInt // 2..4
    (0 until n).map { i =>
      val t = mix(docId * 1000003L + i * 7919L)
      val host =
        if (math.floorMod(t, 100L) < 30) HotHost
        else s"host${1 + math.floorMod(t >>> 8, (NumHosts - 1).toLong)}"
      val target = math.floorMod(t >>> 17, 100000L)
      s"https://$host.example/html/doc$target"
    }
  }

  def htmlPayload(rng: Rng, lang: String, docId: Long): (Array[Byte], String) = {
    val sb = new StringBuilder
    val title = sentence(rng, lang, 4).dropRight(1)
    val paras = Vector.newBuilder[String]
    sb ++= s"<!DOCTYPE html>\n<html>\n<head><meta charset=\"utf-8\"><title>$title</title>"
    sb ++= "<style>body { margin: 0 }</style><script>var x = '<p>not content</p>';</script></head>\n<body>\n"
    sb ++= "<header><a href=\"/\">Home</a> <a href=\"/about\">About</a> <a href=\"/news\">News</a></header>\n"
    sb ++= s"<nav><ul><li><a href=\"/a\">${sentence(rng, lang, 1)}</a></li><li><a href=\"/b\">${sentence(rng, lang, 1)}</a></li></ul></nav>\n"
    sb ++= s"<main>\n<h1>$title</h1>\n"
    val nSections = 1 + rng.nextInt(3)
    for (s <- 0 until nSections) {
      val heading = sentence(rng, lang, 3).dropRight(1)
      sb ++= s"<h2>$heading</h2>\n"
      val nParas = 1 + rng.nextInt(3)
      for (_ <- 0 until nParas) {
        val p = paragraph(rng, lang)
        paras += p
        sb ++= s"<p>$p</p>\n"
      }
      if (s == 0) {
        sb ++= "<ul>\n"
        for (_ <- 0 until (2 + rng.nextInt(3))) sb ++= s"<li>${sentence(rng, lang, 4)}</li>\n"
        sb ++= "</ul>\n"
      }
      if (s == 1 || nSections == 1) {
        sb ++= "<table><thead><tr><th>k</th><th>v</th></tr></thead><tbody>"
        for (r <- 0 until (2 + rng.nextInt(3)))
          sb ++= s"<tr><td>${rng.pick(WordBank(lang))}</td><td>${rng.nextInt(1000)}</td></tr>"
        sb ++= "</tbody></table>\n"
      }
    }
    if (rng.nextInt(2) == 0) sb ++= s"<p class=\"math\">${rng.pick(Formulas)}</p>\n".replace("class=\"math\"", "class=\"math display\"")
    if (rng.nextInt(2) == 0) {
      sb ++= s"<figure><img src=\"/img/$docId.png\" alt=\"fig\"><figcaption>${sentence(rng, lang, 4)}</figcaption></figure>\n"
    }
    sb ++= s"<p class=\"footnote\">[1] ${sentence(rng, lang, 5)}</p>\n"
    sb ++= "<aside><a href=\"/x\">more</a> <a href=\"/y\">links</a> <a href=\"/z\">here</a>"
    for (u <- outlinks(docId)) sb ++= s" <a href=\"$u\">ref</a>"
    sb ++= "</aside>\n"
    sb ++= s"</main>\n<footer>© 2024 $HotHost — <a href=\"/legal\">legal</a></footer>\n</body>\n</html>\n"
    (sb.toString.getBytes(StandardCharsets.UTF_8), paras.result().mkString("\n\n"))
  }

  /** 1-in-16 of PDF docs carry a rendered page-0 raster (PDF-lite v2) with
    * a guaranteed Picture block — exercises the real crop-and-embed path
    * (format_transformer.py:169-172). Rastered pages are small (108×144
    * pts → 300×400 px at dpi 200), yet not light: the page decode, the
    * crop and the crop's PNG encode make the 62 rastered docs of a
    * 4000-doc seed-1 corpus (1.6%) take ~28% of single-thread `parseDoc`
    * time on a 4-vCPU VM (~36% before `Raster.pilCrop` copied
    * 3BYTE_BGR pixels directly). */
  def isRastered(docId: Long): Boolean =
    math.floorMod(mix(docId ^ 0x5eed5eedL), 16L) == 0L

  /** 1-in-3 of (non-rastered) PDF docs are REAL `%PDF-` files written by
    * [[PdfWrite]] — half raw streams, half FlateDecode — so the
    * [[graft.kernel.PdfReal]] text-layer path runs at verify/bench scale
    * (~2.4% of the corpus after the kind/lang gates), not just in unit
    * fixtures. */
  def isRealPdfDoc(docId: Long): Boolean =
    !isRastered(docId) && math.floorMod(mix(docId ^ 0xbee5L), 3L) == 0L

  /** 1-in-5 real PDFs carry a trailing raster-only (scanned) page —
    * exercises PdfReal's full-page-Picture fallback at verify/bench scale. */
  def hasScannedPage(docId: Long): Boolean =
    math.floorMod(mix(docId ^ 0x5ca11edL), 5L) == 0L

  def realPdfPayload(rng: Rng, lang: String, docId: Long): (Array[Byte], String) = {
    val nPages = 1 + rng.nextInt(3)
    val texts = Vector.newBuilder[String]
    val pages0 = (0 until nPages).map { p =>
      val lines = Vector.newBuilder[PdfWrite.TextLine]
      var y = 756.0
      val header = s"doc$docId · p${p + 1}"
      lines += PdfWrite.TextLine(54, y, 10, header); texts += header; y -= 36
      val title = sentence(rng, lang, 4).dropRight(1)
      lines += PdfWrite.TextLine(54, y, 18, title); texts += title; y -= 30
      for (_ <- 0 until (3 + rng.nextInt(5))) {
        val t = sentence(rng, lang, 6 + rng.nextInt(8))
        lines += PdfWrite.TextLine(54, y, 11, t); texts += t
        y -= 14
      }
      PdfWrite.Page(612, 792, lines.result())
    }.toVector
    val pages =
      if (hasScannedPage(docId))
        pages0 :+ PdfWrite.Page(612, 792, Vector.empty, scanned = true)
      else pages0
    (PdfWrite.serialize(pages, compress = math.floorMod(docId, 2L) == 0L),
      texts.result().mkString(" "))
  }

  def pdfPayload(rng: Rng, lang: String, docId: Long): PdfLite.PdfDoc = {
    val nPages = 1 + rng.nextInt(5)
    val rastered = isRastered(docId)
    val pages = (0 until nPages).map { p =>
      if (rastered && p == 0) {
        val (w, h) = (108f, 144f)
        val (wPx, hPx) = graft.kernel.Geometry.renderedPageDims(w, h)
        val img = corpusImage(wPx.toInt, hPx.toInt, docId)
        val png = graft.ops.MultimodalOps.Codec.encodePng(img)
        val blocks = Vector(
          PdfLite.PdfBlock(8f, 4f, w - 8f, 12f, Categories.PageHeader, s"doc$docId · p1"),
          PdfLite.PdfBlock(8f, 16f, w - 8f, 28f, Categories.Title,
            "# " + sentence(rng, lang, 3).dropRight(1)),
          PdfLite.PdfBlock(20f, 34f, 88f, 96f, Categories.Picture, ""),
          PdfLite.PdfBlock(8f, 100f, w - 8f, 112f, Categories.Caption, sentence(rng, lang, 4)),
          PdfLite.PdfBlock(8f, h - 14f, w - 8f, h - 6f, Categories.PageFooter, s"1 / $nPages"))
        val shuffled = blocks.sortBy(_ => mix(rng.nextLong()))
        PdfLite.PdfPage(w, h, shuffled,
          Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(png)))
      } else {
      // occasionally oversized page → exercises the 4500-px render clamp
      val oversized = rng.nextInt(10) == 0
      val (w, h) = if (oversized) (1700f, 2200f) else (612f, 792f)
      val blocks = Vector.newBuilder[PdfLite.PdfBlock]
      var y = 72f
      blocks += PdfLite.PdfBlock(54f, 36f, w - 54f, 54f, Categories.PageHeader,
        s"doc$docId · p${p + 1}")
      blocks += PdfLite.PdfBlock(54f, y, w - 54f, y + 28f, Categories.Title,
        "# " + sentence(rng, lang, 4).dropRight(1))
      y += 44f
      val twoCol = rng.nextInt(3) == 0
      if (twoCol) {
        val colW = (w - 3 * 54f) / 2
        var yL = y; var yR = y
        for (_ <- 0 until (2 + rng.nextInt(3))) {
          val hL = 40f + rng.nextInt(60)
          blocks += PdfLite.PdfBlock(54f, yL, 54f + colW, yL + hL, Categories.Text,
            paragraph(rng, lang))
          yL += hL + 12f
          val hR = 40f + rng.nextInt(60)
          blocks += PdfLite.PdfBlock(54f * 2 + colW, yR, w - 54f, yR + hR, Categories.Text,
            paragraph(rng, lang))
          yR += hR + 12f
        }
        y = math.max(yL, yR)
      } else {
        for (_ <- 0 until (2 + rng.nextInt(4))) {
          val cat = rng.nextInt(10) match {
            case 0 => Categories.Formula
            case 1 => Categories.Table
            case 2 => Categories.ListItem
            case 3 => Categories.Picture
            case 4 => Categories.Caption
            case _ => Categories.Text
          }
          val hB = 30f + rng.nextInt(80)
          val text = cat match {
            case Categories.Formula => rng.pick(Formulas)
            case Categories.Table   => "<table><tr><td>a</td><td>1</td></tr><tr><td>b</td><td>2</td></tr></table>"
            case Categories.ListItem => "- " + sentence(rng, lang, 5)
            case Categories.Picture => ""
            case _                  => paragraph(rng, lang)
          }
          blocks += PdfLite.PdfBlock(54f, y, w - 54f, y + hB, cat, text)
          y += hB + 12f
        }
      }
      blocks += PdfLite.PdfBlock(54f, h - 50f, w - 54f, h - 36f, Categories.PageFooter,
        s"${p + 1} / $nPages")
      // store blocks in a shuffled order: reading order must be recovered
      val bs = blocks.result()
      val shuffled = bs.sortBy(b => mix(rng.nextLong()))
      PdfLite.PdfPage(w, h, shuffled)
      }
    }.toVector
    PdfLite.PdfDoc(pages)
  }

  /** Deterministic COMPRESSIBLE image (gradients + 16-px hash-colored
    * blocks — the shape of a real web graphic). NOT
    * `MultimodalOps.patternImage`: that one carries per-pixel hash noise,
    * which is incompressible — at corpus scale each payload was ~200 KB
    * and its base64 embed (duplicated into md and md_nohf) tripled the
    * extraction wall. Block content keeps payloads at a few KB. */
  def corpusImage(w: Int, h: Int, seed: Long): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // FULLY block-constant color (coarse gradient + hash hue per 16-px
        // block): ImageIO's PNG writer applies no scanline filter, so any
        // per-PIXEL gradient defeats deflate (~90 KB/image measured) —
        // 16-byte runs repeated over 16 rows compress to a few KB
        val bx = x >> 4
        val by = y >> 4
        val mixv = mix(seed ^ (bx.toLong << 20) ^ by.toLong)
        val r = (bx * 255 / math.max(1, ((w - 1) >> 4))) & 0xff
        val g = (by * 255 / math.max(1, ((h - 1) >> 4))) & 0xff
        val b = (mixv & 0xff).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** PNG (even docIds) / JPEG (odd) image payload; 1-in-17 are tiny
    * (below MIN_PIXELS → exercises smart_resize's upscale branch). Block
    * content keeps raster weight a rounding error in generation and bench. */
  def imagePayload(rng: Rng, docId: Long): Array[Byte] = {
    val tiny = math.floorMod(docId, 17L) == 0L
    val w = if (tiny) 24 + rng.nextInt(28) else 160 + 8 * rng.nextInt(30)
    val h = if (tiny) 24 + rng.nextInt(28) else 120 + 8 * rng.nextInt(30)
    val img = corpusImage(w, h, docId)
    if (math.floorMod(docId, 2L) == 0L) graft.ops.MultimodalOps.Codec.encodePng(img)
    else {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
  }

  /** Broken model-output-shaped text — drives the repair chain E2E. */
  def garbledPayload(rng: Rng, lang: String): String = {
    rng.nextInt(4) match {
      case 0 => // missing delimiters + truncated tail
        s"""[{"bbox": [10, 10, 200, 40], "category": "Title", "text": "${sentence(rng, lang, 3)}"} {"bbox": [10, 50, 200, 90], "category": "Text", "text": "${sentence(rng, lang, 6)}"}, {"bbox": [10, 1"""
      case 1 => // duplicate dicts + unterminated array → C4 dedup path
        val d = s"""{"bbox": [5, 5, 100, 30], "category": "Text", "text": "${sentence(rng, lang, 4)}"}"""
        s"[$d, $d, $d, $d"
      case 2 => // single incomplete dict
        s"""[{"bbox": [20, 20, 300, 60], "category": "Section-header", "text": "${sentence(rng, lang, 8)}"""
      case _ => // plain prose, not JSON at all
        paragraph(rng, lang)
    }
  }
}
