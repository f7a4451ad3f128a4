package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{ConfigLoader, Pipeline}

/** Raw crawl in, certified trainer shards out: one YAML job per
  * request, parsed and run the way `graft.Cli process` does. The check
  * audits the shards and compares the content markers they hold with
  * the generator's survivors; the end check repeats it on the last
  * request's shards. */
final class CrawlToShards(spark: SparkSession, seed: Long) extends Workload {
  val docs = 8000
  private var dir: Path = _
  private var crawl: CrawlGen.Crawl = _
  private var parseS = 0.0
  private var nReq = 0
  private var lastOut: Option[Path] = None

  def primary: String = "crawl"
  def requests: Int = 1

  def inputDigest(s: Long): String = CrawlGen.digest(CrawlGen.generate(s, docs))

  def setup(d: Path): String = {
    dir = d
    crawl = CrawlGen.generate(seed, docs)
    val digest = CrawlGen.writeWarc(crawl, d.resolve("warc"))
    import spark.implicits._
    crawl.evalTexts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(d.resolve("eval").toString)
    digest
  }

  private def yaml(out: Path): String = {
    val stages = CrawlGen.chain(dir.resolve("eval").toString).map { case (k, o) =>
      s"      - kind: $k\n        options:\n" +
        o.map { case (ok, ov) => s"          $ok: '$ov'" }.mkString("\n")
    }.mkString("\n")
    s"""jobs:
       |  - name: crawl_to_shards
       |    extract:
       |      - kind: warc_responses
       |        path: ${dir.resolve("warc")}
       |        prefix: ""
       |        status: 200
       |        contentType: text/html
       |    transform:
       |$stages
       |    load:
       |      - kind: training_shards
       |        options:
       |          idCol: pack_id
       |          dir: $out
       |          nShards: 4
       |""".stripMargin
  }

  def request(i: Int, timed: Timer): Sample = {
    val out = dir.resolve(s"out-$i")
    val cfg = dir.resolve(s"crawl-$i.yaml")
    Files.writeString(cfg, yaml(out))
    val (_, ms) = timed("crawl") {
      val p0 = System.nanoTime()
      val jobs = ConfigLoader.parseYamlFile(cfg.toString)
      parseS += (System.nanoTime() - p0) / 1e9
      Pipeline.run(spark, jobs, progress = _ => ())
    }
    nReq += 1
    lastOut = Some(out)
    val problem = check(out.toString)
    Sample("crawl", ms, problem.isEmpty, problem.getOrElse(""))
  }

  override def verify(): Option[String] = lastOut.flatMap(o => check(o.toString))

  /** None when the shards are certified and hold exactly the expected
    * content: a subset of the pre-mix survivors that the trainer mix
    * could have drawn — within each domain every kept document's mix
    * bucket sorts below every dropped one's, and at least one domain
    * (the one at the top sampling rate) keeps everything. */
  private def check(out: String): Option[String] = {
    val audit = graft.llm.Packing.auditShards(spark, out)
      .select(col("shard"), col("status")).collect()
    if (audit.isEmpty) return Some("audit found no shards")
    val bad = audit.filter(_.getString(1) != "ok")
    if (bad.nonEmpty) return Some(s"shards not ok: ${bad.mkString(",")}")
    val markers = spark.read.parquet(s"$out/data")
      .select(explode(filter(col("tokens"), t => t.startsWith("mk"))))
      .collect().map(_.getString(0))
    val expected = crawl.survivors
    val dupes = markers.groupBy(identity).collect { case (m, xs) if xs.length > 1 => m }
    if (dupes.nonEmpty) return Some(s"content packed twice: ${dupes.take(5).mkString(",")}")
    val stray = markers.filterNot(expected.contains)
    if (stray.nonEmpty) return Some(s"${stray.length} packed docs are not survivors, e.g. ${stray.take(5).mkString(",")}")
    val kept = markers.toSet
    val byDomain = expected.values.groupBy(_.domain)
    var fullDomain = false
    for ((dom, ss) <- byDomain) {
      val (k, dropped) = ss.partition(s => kept(s.marker))
      if (dropped.isEmpty) fullDomain = true
      if (k.nonEmpty && dropped.nonEmpty) {
        val maxKept = k.map(s => Gen.mixBucket(s.id)).max
        val minDropped = dropped.map(s => Gen.mixBucket(s.id)).min
        if (maxKept >= minDropped)
          return Some(s"domain $dom: mix kept bucket $maxKept above dropped $minDropped")
      }
    }
    if (!fullDomain) return Some("no domain kept at the top rate")
    None
  }

  override def facts(): Map[String, Double] = Map(
    "parse_s" -> (if (nReq == 0) 0.0 else parseS / nReq),
    "survivors" -> crawl.survivors.size.toDouble, "docs" -> docs.toDouble)
}
