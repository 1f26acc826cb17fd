package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import graft.extract.Extractor
import graft.model.PageRow
import graft.synth.Synth

/** Seeded input generator. Every byte is a pure function of the seed: the
  * vocabulary is fixed, and all draws come from one SplittableRandom per
  * generated table. Pages go through the program's own `Synth.pageFor`, so
  * the web batch is the corpus the program is built for; the heavy batch
  * adds concatenated, table- and link-heavy pages and deep nesting. */
object Gen {

  final case class Doc(docId: Long, text: String, lang: String)
  final case class Vec(vecId: Long, embedding: Array[Float], label: Int)

  /** Input properties, measured on the generated rows (not on generator
    * parameters). */
  final case class Props(pages: Int, bytes: Long, pdfShare: Double,
      hotDomainShare: Double, deepShare: Double, dupShare: Double) {
    def render: String =
      f"pages=$pages bytes=$bytes pdf_share=$pdfShare%.4f " +
        f"hot_domain_share=$hotDomainShare%.4f deep_share=$deepShare%.4f " +
        f"dup_share=$dupShare%.4f"
  }

  private val syllables = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "po",
    "de", "va", "zu", "ho", "ge", "fi", "ba", "co", "ly", "an", "er", "is")
  /** Fixed 400-word vocabulary; draws are skewed toward low indices. */
  private val vocab: Array[String] = Array.tabulate(400) { i =>
    syllables(i % 20) + syllables((i / 20) % 20) + (if (i % 3 == 0) syllables((i * 7) % 20) else "")
  }
  private val langs = Array("en", "en", "en", "de", "fr", "es", "zh", "ja")
  val HotDomains: Set[String] = Set("big.example.com", "hub.example.org")

  /** The generator of one table (`table` tells the tables apart). The seed
    * goes through SplittableRandom's 64-bit mix first: seeded with an affine
    * function of the seed, seed s + 1's stream would be seed s's stream
    * shifted by one draw, and neighbouring seeds would generate nearly the
    * same rows. */
  def rng(seed: Long, table: Int): SplittableRandom =
    new SplittableRandom(new SplittableRandom(seed * 1000003L + table).nextLong())

  private def permutation(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  private def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    vocab((u * u * vocab.length).toInt)
  }

  private def words(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) { if (i > 0) sb.append(' '); sb.append(word(r)); i += 1 }
    sb.toString
  }

  /** Distinct doc ids spread over a wide range, so `Synth.pageFor`'s
    * id-derived variants, PDF route (~6%) and hot domains (~10%) land in
    * their usual proportions. */
  private def docIds(r: SplittableRandom, n: Int): Array[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet[Long]()
    while (seen.size < n) seen += (r.nextLong() >>> 38)
    seen.toArray
  }

  private def docTexts(r: SplittableRandom, n: Int, dupShare: Double,
      nearDupShare: Double): Array[String] = {
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = r.nextDouble()
      out(i) =
        if (i > 0 && u < dupShare) out(r.nextInt(i))
        else if (i > 0 && u < dupShare + nearDupShare) {
          val w = out(r.nextInt(i)).split(' ')
          w(r.nextInt(w.length)) = word(r)
          w.mkString(" ")
        } else words(r, 30 + r.nextInt(90))
      i += 1
    }
    out
  }

  /** `ingest_web`: typical Synth pages with ~4% exact-duplicate bodies. */
  def webPages(seed: Long, n: Int): Vector[PageRow] = {
    val r = rng(seed, 11)
    val ids = docIds(r, n)
    val texts = docTexts(r, n, dupShare = 0.04, nearDupShare = 0.0)
    Vector.tabulate(n)(i => Synth.pageFor(ids(i), texts(i), langs(r.nextInt(langs.length))))
  }

  /** Nesting depths of the hostile pages in `ingest_heavy`. Passing depths
    * stay well below the depth at which extraction overflows the stack.
    * That depth depends on how far the JIT has compiled the recursive walk:
    * measured on a 4-core host with the default 1 MB thread stack, ~1,000 in
    * a cold JVM and ~3,000-3,500 in most warm executors, but some warm
    * executors extract 3,800 levels without overflowing. Failing pages are
    * unclosed `<font>` runs far past any depth seen to pass, so they fall
    * back in every run; parsing them is linear in depth, and the walk stops
    * at the overflow depth whatever the page's depth. They are 1% of the
    * batch. */
  val DeepDivRange: (Int, Int) = (100, 900)
  val DeepFontRange: (Int, Int) = (100, 900)
  val FailingFontRange: (Int, Int) = (12000, 12500)

  private def synthBody(p: PageRow): String = {
    val h = new String(p.html, UTF_8)
    val a = h.indexOf("<main>")
    val b = h.lastIndexOf("</main>")
    if (a >= 0 && b > a) h.substring(a + 6, b) else ""
  }

  private def heavyPage(id: Long, url: String, ts: java.sql.Timestamp,
      lang: String, text: String, body: String): PageRow = {
    val html = s"""<!DOCTYPE html>\n<html lang="$lang"><head><title>Heavy $id</title></head>""" +
      s"<body><main>\n$body</main></body></html>\n"
    PageRow(url, ts, html.getBytes(UTF_8), text, lang)
  }

  /** `ingest_heavy`: 20% plain Synth pages (1 in 17 of them PDF), 55% large pages (3-8 Synth
    * bodies concatenated plus a 40-160 row table and 40-200 links, each
    * count spread evenly over its range), 24%
    * deep `<div>` nesting or unclosed `<font>` runs below the failure
    * depth, and 1% unclosed `<font>` runs past it. */
  def heavyPages(seed: Long, n: Int): Vector[PageRow] = {
    val r = rng(seed, 23)
    val drawnIds = docIds(r, n)
    val texts = docTexts(r, n, dupShare = 0.0, nearDupShare = 0.0)
    // exact class counts, in seeded order: the work per batch must not
    // swing with how many of the costly pages a seed happens to draw
    val nFailing = math.max(1, n / 100)
    val nDeep = n * 24 / 100
    val nLarge = n * 55 / 100
    val classes = permutation(r, n).map(i =>
      if (i < nFailing) 3 else if (i < nFailing + nDeep) 2 else if (i < nFailing + nDeep + nLarge) 1 else 0)
    // order of each deep (or failing) page among the pages of its class,
    // and a seeded order of the depth strata, so that depth does not grow
    // with a page's position in the batch
    val divStrata = permutation(r, (nDeep + 1) / 2)
    val fontStrata = permutation(r, nDeep / 2)
    val failStrata = permutation(r, nFailing)
    // the same for the size of each large page: part, table-row and link
    // counts are spread evenly over their ranges, in seeded orders
    val partStrata = permutation(r, nLarge)
    val rowStrata = permutation(r, nLarge)
    val linkStrata = permutation(r, nLarge)
    // exactly 1 in 17 plain pages is a PDF (Synth.pageFor makes an id a PDF
    // when id % 17 == 13), and no large page draws a PDF body, so the
    // batch's PDF and body bytes do not swing with the seed
    val ids = {
      val used = scala.collection.mutable.HashSet[Long](drawnIds: _*)
      var pdfLeft = math.round((n - nFailing - nDeep - nLarge) / 17.0).toInt
      Array.tabulate(n) { i =>
        val id = drawnIds(i)
        if (classes(i) != 0) id
        else {
          val pdf = pdfLeft > 0
          if (pdf) pdfLeft -= 1
          if ((id % 17 == 13) == pdf) id
          else {
            var j = if (pdf) id - id % 17 + 13 else id + 1
            while (used.contains(j)) j += 17
            used += j
            j
          }
        }
      }
    }
    val deepIndex = new Array[Int](n)
    val largeIndex = new Array[Int](n)
    locally {
      var d = 0; var f = 0; var l = 0
      (0 until n).foreach { i =>
        if (classes(i) == 2) { deepIndex(i) = d; d += 1 }
        else if (classes(i) == 3) { deepIndex(i) = f; f += 1 }
        else if (classes(i) == 1) { largeIndex(i) = l; l += 1 }
      }
    }
    Vector.tabulate(n) { i =>
      val lang = langs(r.nextInt(langs.length))
      val base = Synth.pageFor(ids(i), texts(i), lang)
      def spread(lo: Int, hi: Int, stratum: Int) = lo + (hi - lo + 1) * stratum / nLarge
      if (classes(i) == 0) base
      else if (classes(i) == 1) {
        val sb = new StringBuilder
        val m = largeIndex(i)
        val parts = spread(3, 8, partStrata(m))
        var k = 0
        while (k < parts) {
          val sub = ids(i) * 31 + k * 10 + 1
          sb.append(synthBody(Synth.pageFor(if (sub % 17 == 13) sub + 1 else sub, words(r, 60), lang)))
          k += 1
        }
        sb.append("<table><tr><th>key</th><th>name</th><th>value</th><th>note</th></tr>")
        (0 until spread(40, 160, rowStrata(m))).foreach { row =>
          sb.append(s"<tr><td>k$row</td><td>${word(r)}</td><td>${r.nextInt(100000)}</td><td>${words(r, 3)}</td></tr>")
        }
        sb.append("</table>\n<ul>")
        (0 until spread(40, 200, linkStrata(m))).foreach { l =>
          sb.append(s"""<li><a href="https://ref-${r.nextInt(5000)}.example.org/p/$l">${words(r, 2)}</a></li>""")
        }
        sb.append("</ul>\n")
        heavyPage(ids(i), base.url, base.warc_ts, lang, base.text, sb.toString)
      } else {
        // deep pages alternate <div>/<font>, and each kind's depths are
        // stratified over its range: cost grows with the square of the
        // depth, so uniform draws would move a batch's cost by ~10% per seed
        val failing = classes(i) == 3
        val k = deepIndex(i)
        val font = failing || k % 2 == 1
        val ((lo, hi), strata, stratum) =
          if (failing) (FailingFontRange, nFailing, failStrata(k))
          else if (font) (DeepFontRange, nDeep / 2, fontStrata(k / 2))
          else (DeepDivRange, (nDeep + 1) / 2, divStrata(k / 2))
        val depth = lo + ((hi - lo) * (stratum + r.nextDouble()) / strata).toInt
        val para = s"<p>${words(r, 40)}</p>"
        val body =
          if (font) """<font size="2">""" * depth + para
          else "<div>" * depth + para + "</div>" * depth
        heavyPage(ids(i), base.url, base.warc_ts, lang, base.text, body + "\n")
      }
    }
  }

  /** `serve_reads`: the documents table (8% exact and 8% near duplicates)
    * whose pages the program synthesizes itself. */
  def documents(seed: Long, n: Int): Vector[Doc] = {
    val r = rng(seed, 37)
    val texts = docTexts(r, n, dupShare = 0.08, nearDupShare = 0.08)
    Vector.tabulate(n)(i => Doc(i.toLong, texts(i), langs(r.nextInt(langs.length))))
  }

  /** 64-dim embeddings around 32 cluster centres, 5% exact copies. */
  def embeddings(seed: Long, n: Int): Vector[Vec] = {
    val r = rng(seed, 41)
    val centres = Array.fill(32, 64)(r.nextDouble() * 2 - 1)
    val out = new Array[Vec](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i > 10 && r.nextDouble() < 0.05) {
          val src = out(r.nextInt(i))
          Vec(i.toLong, src.embedding.clone(), src.label)
        } else {
          val c = r.nextInt(32)
          Vec(i.toLong, Array.tabulate(64)(d => (centres(c)(d) + r.nextGaussian() * 0.6).toFloat), c)
        }
      i += 1
    }
    out.toVector
  }

  def domainOf(url: String): String = {
    val a = url.indexOf("://")
    val b = url.indexOf('/', a + 3)
    if (a < 0) "" else if (b < 0) url.substring(a + 3) else url.substring(a + 3, b)
  }

  /** Longest run of consecutive opening `<div>` / `<font` tags. */
  def openRun(html: Array[Byte]): Int = {
    val s = new String(html, UTF_8)
    var best = 0; var run = 0; var i = s.indexOf('<')
    while (i >= 0) {
      if (s.startsWith("<div>", i) || s.startsWith("<font", i)) { run += 1; best = math.max(best, run) }
      else run = 0
      i = s.indexOf('<', i + 1)
    }
    best
  }

  def props(pages: Seq[PageRow]): Props = {
    val n = pages.size.max(1)
    val bytes = pages.map(p => p.html.length.toLong + Option(p.text).map(_.getBytes(UTF_8).length).getOrElse(0)).sum
    val seen = scala.collection.mutable.HashSet[String]()
    val dups = pages.count(p => !seen.add(p.text))
    Props(pages.size, bytes,
      pages.count(p => Extractor.isPdf(p.html)).toDouble / n,
      pages.count(p => HotDomains.contains(domainOf(p.url))).toDouble / n,
      pages.count(p => openRun(p.html) >= 100).toDouble / n,
      dups.toDouble / n)
  }

  /** SHA-256 over every generated byte, in row order. */
  def hashPages(pages: Seq[PageRow]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    pages.foreach { p =>
      md.update(p.url.getBytes(UTF_8)); md.update(p.warc_ts.getTime.toString.getBytes(UTF_8))
      md.update(p.html); md.update(p.text.getBytes(UTF_8)); md.update(p.lang.getBytes(UTF_8))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def hashTables(docs: Seq[Doc], vecs: Seq[Vec]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { d => md.update(s"${d.docId}|${d.text}|${d.lang}\n".getBytes(UTF_8)) }
    vecs.foreach { v =>
      md.update(s"${v.vecId}|${v.label}|".getBytes(UTF_8))
      v.embedding.foreach(f => md.update(java.lang.Float.floatToIntBits(f).toString.getBytes(UTF_8)))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
