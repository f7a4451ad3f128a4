package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** The `crawl_to_shards` input: a WARC crawl of `n` response records
  * (plus one request record per file) and a decontamination eval set,
  * with the expected pre-mix survivor set of the curation funnel.
  *
  * Every document's paragraph opens with a marker word naming its
  * CONTENT: exact copies and near-duplicate variants share their
  * source's marker, so the packed shards, which carry tokens but no
  * document ids, still say which content survived. */
object CrawlGen {

  final case class Doc(id: Long, host: String, casino: Boolean,
                       status: Int, pdf: Boolean, para: Array[String],
                       english: Boolean) {
    /** Whitespace tokens of the extracted main text: heading,
      * paragraph, and the fixed closing line of the page template. */
    def mainTokens: Array[String] =
      ("overview" +: para.map(_.toLowerCase)) ++ padTail
    def domain: String = host.split('.').takeRight(2).mkString(".")
  }

  final case class Survivor(id: Long, marker: String, domain: String)

  final case class Crawl(docs: Array[Doc], evalTexts: Array[String],
                         survivors: Map[String, Survivor])

  val padTail: Array[String] = Array.fill(9)("pad") :+ "end."
  val blockedHosts: Array[String] =
    Array("src3.example", "src7.example", "promo.adsite.example")
  /** Domains that pass the URL filter, with their share of the crawl. */
  val domains: Array[(String, Double)] = Array("alpha.example" -> 0.4,
    "beta.example" -> 0.3, "gamma.example" -> 0.2, "delta.example" -> 0.1)

  /** The chain's stage options, in the order `curate_to_shards_yaml`
    * runs them (no tokenizer model, so no `bpe_encode`). */
  def chain(evalPath: String): Seq[(String, Seq[(String, String)])] = Seq(
    "regexp_extract" -> Seq("column" -> "url", "pattern" -> "doc/([0-9]+)",
      "outCol" -> "doc_id", "castTo" -> "long"),
    "html_extract" -> Seq("column" -> "html", "outCol" -> "main_text"),
    "drop" -> Seq("columns" ->
      "html,http_status,content_type,warc_date,content_length,len_ok"),
    "url_filter" -> Seq("column" -> "url",
      "blockedDomains" -> "src3.example,src7.example,adsite.example",
      "blockedKeywords" -> "casino"),
    "lang_filter" -> Seq("column" -> "main_text", "lang" -> "en"),
    "quality_filter" -> Seq("column" -> "main_text", "minWords" -> "45",
      "minMeanWordLen" -> "0", "maxMeanWordLen" -> "1000",
      "maxPunctRatio" -> "1.0"),
    "dedup_exact" -> Seq("idCol" -> "doc_id", "textCol" -> "main_text"),
    "dedup_minhash" -> Seq("idCol" -> "doc_id", "textCol" -> "main_text",
      "threshold" -> "0.75"),
    "decontaminate" -> Seq("idCol" -> "doc_id", "textCol" -> "main_text",
      "benchmarkPath" -> evalPath, "benchTextCol" -> "text", "n" -> "8"),
    "scrub_pii" -> Seq("column" -> "main_text"),
    "url_domain" -> Seq("column" -> "url", "outCol" -> "mix_domain"),
    "mix_excess" -> Seq("idCol" -> "doc_id", "textCol" -> "main_text",
      "domainCol" -> "mix_domain", "steps" -> "2"),
    "pack_materialize" -> Seq("idCol" -> "doc_id", "textCol" -> "main_text",
      "budget" -> "512"))

  def generate(seed: Long, n: Int): Crawl = {
    val rnd = new SplittableRandom(seed)
    val vocab = Gen.vocabulary(20000, rnd)
    val zipf = new Gen.Zipf(vocab.length, 1.07)
    val docs = new Array[Doc](n)
    // content sources a later copy or variant may draw from
    val bases = new java.util.ArrayList[Array[String]]()
    var nextContent = 0L
    def fresh(len: Int, stops: Array[String] = Gen.enStop,
              stopRate: Double = 0.3): Array[String] = {
      nextContent += 1
      Gen.marker(nextContent) +: Gen.prose(rnd, vocab, zipf, len - 1, stops,
        stopRate)
    }
    var i = 0
    while (i < n) {
      val id = i + 1L
      val u = rnd.nextDouble()
      var english = true
      val para: Array[String] =
        if (u < 0.05) { english = false; fresh(60 + rnd.nextInt(100), Gen.deStop, 0.35) }
        else if (u < 0.10) fresh(10 + rnd.nextInt(16)) // below the word floor
        else if (u < 0.15 && bases.size > 0)           // exact copy
          bases.get(rnd.nextInt(bases.size))
        else if (u < 0.20 && bases.size > 0) {         // near-duplicate
          val b = bases.get(rnd.nextInt(bases.size))
          if (b.length >= 100) b :+ vocab(zipf.sample(rnd))
          else { val f = fresh(100 + rnd.nextInt(80)); bases.add(f); f }
        } else {
          val len = math.min(600, math.max(40,
            Gen.logNormal(rnd, 110, 0.5).toInt))
          val f0 = fresh(len)
          // planted PII: an address and a phone number inside the prose
          val f = if (rnd.nextDouble() < 0.08)
              f0 ++ Array("contact", s"user$id@ex.com", "or", "call", "+1",
                "(555)", "123-4567", "now")
            else f0
          bases.add(f)
          f
        }
      val hu = rnd.nextDouble()
      val host =
        if (hu < 0.04) Gen.pick(rnd, blockedHosts)
        else {
          val d = Gen.weighted(rnd, domains)
          Gen.pick(rnd, Array(d, s"www.$d", s"blog.$d"))
        }
      val su = rnd.nextDouble()
      docs(i) = Doc(id, host, casino = rnd.nextDouble() < 0.03,
        status = if (su < 0.05) 404 else 200,
        pdf = su >= 0.05 && su < 0.09, para = para, english = english)
      i += 1
    }
    // eval set: 12-word spans of ~1% of the documents, plus unrelated
    // texts over a vowel-initial vocabulary the corpus never uses
    val spans = docs.filter(d => d.para.length >= 30 && rnd.nextDouble() < 0.01)
      .map { d =>
        val at = 1 + rnd.nextInt(d.para.length - 13)
        d.para.slice(at, at + 12).mkString(" ")
      }
    val foreign = Gen.vocabulary(500, rnd).map("o" + _)
    val noise = Array.fill(200)(
      Array.fill(20 + rnd.nextInt(20))(Gen.pick(rnd, foreign)).mkString(" "))
    val evalTexts = spans ++ noise
    Crawl(docs, evalTexts, survivors(docs, evalTexts))
  }

  /** The funnel's expected output before the trainer mix: filters per
    * document, then the minimum id of each content group (exact copies
    * and the near-duplicate variant share a marker), then eval-set
    * decontamination on the survivor's own text. */
  def survivors(docs: Array[Doc], evalTexts: Array[String])
      : Map[String, Survivor] = {
    val evalGrams = new java.util.HashSet[java.lang.Long]()
    evalTexts.foreach { t =>
      val ws = t.toLowerCase.split("\\s+")
      var i = 0
      while (i + 8 <= ws.length) { evalGrams.add(Gen.gram8(ws, i)); i += 1 }
    }
    val blocked = Set("src3.example", "src7.example", "adsite.example")
    val passing = docs.filter { d =>
      d.status == 200 && !d.pdf && !blocked(d.host) && !blocked(d.domain) &&
        !d.casino && d.english && d.para.length + 11 >= 45
    }
    passing.groupBy(_.para.head).values.map(_.minBy(_.id)).filter { d =>
      val ws = d.mainTokens
      !(0 to ws.length - 8).exists(i => evalGrams.contains(Gen.gram8(ws, i)))
    }.map(d => d.para.head -> Survivor(d.id, d.para.head, d.domain)).toMap
  }

  def html(d: Doc): String =
    "<html><head><title>T</title><script>var x=1;</script></head>" +
      "<body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
      "<a href=\"/c\">Contact</a></nav><h1>Overview</h1><p>" +
      d.para.mkString(" ") + " " + padTail.mkString(" ") + "</p>" +
      "<div><a href=\"/m\">Read more</a></div>" +
      "<footer>(c) example</footer></body></html>"

  def record(d: Doc): String = {
    val url = s"https://${d.host}/doc/${d.id}" +
      (if (d.casino) "?session=casino" else "")
    val http = (if (d.status == 404) "HTTP/1.1 404 Not Found" else "HTTP/1.1 200 OK") +
      "\nContent-Type: " +
      (if (d.pdf) "application/pdf" else "text/html; charset=UTF-8") +
      "\nServer: synthetic"
    val body = html(d)
    "WARC/1.0\nWARC-Type: response\nWARC-Target-URI: " + url +
      "\nWARC-Date: 2026-02-02T00:00:00Z\nContent-Length: " +
      (http.length + 2 + body.length) + "\n\n" + http + "\n\n" + body + "\n"
  }

  val files = 8
  val requestRecord: String = "WARC/1.0\nWARC-Type: request\nWARC-Target-URI: " +
    "https://x.example/\n\nGET / HTTP/1.1\n"

  /** SHA-256 of the crawl's bytes, in [[writeWarc]]'s order. */
  def digest(c: Crawl): String = {
    val dg = new Gen.Digest
    (0 until files).foreach(_ => dg.add(requestRecord))
    c.docs.foreach(d => dg.add(record(d)))
    c.evalTexts.foreach(dg.add)
    dg.hex
  }

  /** Write the crawl as [[files]] WARC segments; returns the SHA-256 of
    * every byte written (and of the eval texts). */
  def writeWarc(c: Crawl, dir: Path): String = {
    Files.createDirectories(dir)
    val dg = new Gen.Digest
    val ws = (0 until files).map { f =>
      new BufferedWriter(new OutputStreamWriter(
        Files.newOutputStream(dir.resolve(f"segment-$f%03d.warc")), UTF_8),
        1 << 20)
    }
    try {
      ws.foreach { w => w.write(requestRecord); dg.add(requestRecord) }
      c.docs.foreach { d =>
        val r = record(d)
        ws((d.id % files).toInt).write(r)
        dg.add(r)
      }
    } finally ws.foreach(_.close())
    c.evalTexts.foreach(dg.add)
    dg.hex
  }
}
