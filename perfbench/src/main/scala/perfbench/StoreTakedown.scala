package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{ConfigLoader, Pipeline}

/** Set-up builds the document stores `takedown_all_yaml` scrubs —
  * curated packs and shards, BM25 postings, IVF vector index and a rank
  * trace — over a generated corpus. Each request is one takedown config
  * with its own opt-out set and link delta: retract from the pack, the
  * vector index and the postings, refresh the shards, refresh the rank
  * trace and vacuum the generation it retires, and gate on compliance;
  * then it asks the BM25 and IVF serving paths for the opted-out
  * documents. The request fails unless the gate passed, neither path
  * returns an opted-out document, the postings count dropped by the
  * opt-out set and the trace holds one new generation. After the loop,
  * no retracted id may be left in the postings, the vector index or the
  * shards.
  *
  * Left out against the query: the SFT conversation pack and its
  * user-keyed takedown. Its takedown runs the same pack retraction
  * and shard refresh as the documents' (a third more time per
  * request); `llm.Sft` itself only renders the pack at build time. */
final class StoreTakedown(spark: SparkSession, seed: Long) extends Workload {
  import StoreTakedown._
  private var dir: Path = _
  private var in: Inputs = _
  private val retracted = collection.mutable.Set.empty[Long]
  private var parseS = 0.0
  private var nReq = 0

  def primary: String = "takedown"
  def requests: Int = StoreTakedown.requests

  def inputDigest(s: Long): String = generate(s).digest

  def setup(d: Path): String = {
    dir = d
    in = generate(seed)
    retracted.clear()
    import spark.implicits._
    val docs = in.docs.toSeq.toDF("doc_id", "source", "text")
    val embs = in.vecs.toSeq.toDF("vec_id", "embedding")
    val edges = in.edges.toSeq.toDF("src", "dst", "weight")
    val delta = in.deltas.zipWithIndex.flatMap { case (es, op) =>
      es.map { case (a, b, wt) => (a, b, wt, op) } }.toSeq
      .toDF("src", "dst", "weight", "op")
    val optout = in.optouts.zipWithIndex.flatMap { case (ids, op) =>
      ids.map(id => (id, op)) }.toSeq.toDF("doc_id", "op")
    val p = d.toString
    inParallel(
      () => {
        docs.write.parquet(s"$p/store")
        graft.streaming.IndexIngest.seedCuratedPack(
          spark.read.parquet(s"$p/store").select("doc_id", "text"), p,
          "doc_id", "text", budget = 512L)
        graft.sinks.Sinks.runChain(spark.read.parquet(s"$p/store"), Seq(
          ConfigLoader.loadKinds("materialize_shards")(Map(
            "assignmentDir" -> s"$p/assign", "idCol" -> "doc_id",
            "textCol" -> "text", "dir" -> s"$p/out", "nShards" -> "4"))))
      },
      () => {
        optout.write.partitionBy("op").parquet(s"$p/optout")
        delta.write.partitionBy("op").parquet(s"$p/delta")
      },
      () => graft.llm.Search.buildPostings(docs, s"$p/bm25"),
      () => graft.llm.Similarity.buildIvfIndex(embs, s"$p/ann"),
      () => graft.llm.LinkGraph.pageRankTrace(edges, iters = 1, s"$p/trace",
        orderedFold = true))
    in.digest
  }

  private def yaml(op: Int): String = {
    val p = dir.toString
    s"""jobs:
       |  - name: takedown
       |    extract:
       |      - {kind: parquet, path: $p/optout/op=$op, prefix: ""}
       |    load:
       |      - kind: retract_pack
       |        options: {dir: $p, idCol: doc_id}
       |      - kind: retract_vector_index
       |        options: {dir: $p/ann, idCol: doc_id}
       |      - kind: retract_postings
       |        options: {dir: $p/bm25, idCol: doc_id}
       |  - name: refresh
       |    extract:
       |      - {kind: parquet, path: $p/store, prefix: ""}
       |    load:
       |      - kind: refresh_shards
       |        options: {ledgerDir: $p, idCol: doc_id, textCol: text, dir: $p/out, nShards: '4'}
       |  - name: rerank
       |    extract:
       |      - {kind: parquet, path: $p/delta/op=$op, prefix: ""}
       |    transform:
       |      - kind: pagerank_refresh
       |        options: {traceDir: $p/trace}
       |    load:
       |      - kind: vacuum_rank_trace
       |        options: {dir: $p/trace}
       |  - name: comply
       |    extract:
       |      - {kind: parquet, path: $p/optout/op=$op, prefix: ""}
       |    load:
       |      - kind: retraction_compliance
       |        options: {dir: $p, idCol: doc_id, failOnViolation: 'true'}
       |""".stripMargin
  }

  def request(i: Int, timed: Timer): Sample = {
    val cfg = dir.resolve(s"takedown-$i.yaml")
    Files.writeString(cfg, yaml(i))
    val ids = in.optouts(i).toSeq
    val (stillServed, ms) = timed("takedown") {
      val p0 = System.nanoTime()
      val jobs = ConfigLoader.parseYamlFile(cfg.toString)
      parseS += (System.nanoTime() - p0) / 1e9
      Pipeline.run(spark, jobs, progress = _ => ())
      served(ids)
    }
    nReq += 1
    retracted ++= ids
    val n = graft.llm.Search.servingStats(spark, s"$dir/bm25").head().getAs[Long]("n")
    val gens = traceGens()
    val problem = stillServed
      .orElse(Option.when(n != in.docs.length - retracted.size)(
        s"postings serve $n docs, expected ${in.docs.length - retracted.size}"))
      .orElse(Option.when(gens != Seq(f"gen-${i + 1}%04d"))(
        s"rank trace holds ${gens.mkString(",")} after refresh ${i + 1}"))
    Sample("takedown", ms, problem.isEmpty, problem.getOrElse(""))
  }

  /** Trace generation directories, committed or not. */
  private def traceGens(): Seq[String] =
    Files.list(dir.resolve("trace")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("gen-")).toSeq.sorted

  /** Which of `ids` the serving paths still return: BM25 top-3 for each
    * document's own text, IVF top-3 for its own vector with every cell
    * probed. None when neither returns any of them. */
  private def served(ids: Seq[Long]): Option[String] = {
    import spark.implicits._
    val gone = ids.toSet
    val text = in.docs.map(d => d._1 -> d._3).toMap
    val lex = graft.llm.Search.bm25ServeJoinTopK(spark, s"$dir/bm25",
        ids.map(id => (id, text(id))).toDF("qid", "text"), 3)
      .select(col("doc_id")).as[Long].collect().filter(gone)
    if (lex.nonEmpty) return Some(s"postings still return ${lex.take(5).mkString(",")}")
    val vec = in.vecs.toMap
    val sem = graft.llm.Similarity.ivfQueryIndex(spark, s"$dir/ann",
        ids.map(id => (id, vec(id))).toDF("vec_id", "embedding"), 3, nProbe = 16)
      .select(col("neighbor_id")).as[Long].collect().filter(gone)
    if (sem.nonEmpty) return Some(s"vector index still returns ${sem.take(5).mkString(",")}")
    None
  }

  private def markersIn(shards: String): Set[String] =
    spark.read.parquet(s"$shards/data")
      .select(explode(filter(col("tokens"), t => t.startsWith("mk"))))
      .collect().map(_.getString(0)).toSet

  override def verify(): Option[String] = {
    served(retracted.toSeq.sorted).foreach(f => return Some(f))
    val packed = markersIn(s"$dir/out")
    val expected = in.docs.map(_._1).filterNot(retracted).map(Gen.marker).toSet
    if (packed != expected)
      return Some(s"shards hold ${packed.size} docs, expected ${expected.size}; " +
        s"${(packed -- expected).size} should be gone")
    None
  }

  /** Store size after the loop: files and committed generations of
    * the stores (inputs and configs excluded), and the files of
    * the curated-pack ledgers (assignment, content hashes, retractions). */
  override def facts(): Map[String, Double] = {
    val inputs = Set("optout", "delta", "store")
    val files = Files.walk(dir).iterator().asScala.toList
      .map(dir.relativize).filter(f => !inputs(f.getName(0).toString))
    def isLedger(f: Path) = f.iterator().asScala.map(_.toString)
      .exists(n => n == "assign" || n == "hashes" || n.startsWith("retract"))
    val regular = files.filter(f => Files.isRegularFile(dir.resolve(f)) &&
      !f.toString.endsWith(".yaml"))
    Map(
      "parse_s" -> (if (nReq == 0) 0.0 else parseS / nReq),
      "store_files" -> regular.size.toDouble,
      "store_generations" -> files.count { f =>
        val n = f.getFileName.toString
        Files.isDirectory(dir.resolve(f)) && (n.startsWith("gen-") || n.startsWith("delta-"))
      }.toDouble,
      "ledger_files" -> regular.count(isLedger).toDouble)
  }

  private def inParallel(fs: (() => Unit)*): Unit = {
    val pool = Executors.newFixedThreadPool(fs.size)
    try fs.map(f => pool.submit(new Callable[Unit] { def call(): Unit = f() }))
      .foreach(_.get())
    finally pool.shutdown()
  }
}

object StoreTakedown {
  val nDocs = 480
  val perOp = 8
  /** Requests per run; one opt-out set and one link delta each. */
  val requests = 3
  val deltaEdges = 6

  final case class Inputs(docs: Array[(Long, String, String)],
                          vecs: Array[(Long, Array[Double])],
                          edges: Array[(Long, Long, Long)],
                          deltas: Array[Array[(Long, Long, Long)]],
                          optouts: Array[Array[Long]], digest: String)

  def generate(seed: Long): Inputs = {
    val rnd = new SplittableRandom(seed ^ 0x5EEDL)
    val vocab = Gen.vocabulary(6000, rnd)
    val zipf = new Gen.Zipf(vocab.length, 1.07)
    val centres = Array.fill(16)(Gen.normalise(Array.fill(32)(Gen.gauss(rnd))))
    val docs = Array.tabulate(nDocs) { i =>
      val len = math.min(200, math.max(50, Gen.logNormal(rnd, 90, 0.4).toInt))
      (i.toLong, s"pub${rnd.nextInt(20)}",
        (Gen.marker(i) +: Gen.prose(rnd, vocab, zipf, len - 1)).mkString(" "))
    }
    val vecs = Array.tabulate(nDocs)(i =>
      (i.toLong, Gen.clusteredVec(rnd, Gen.pick(rnd, centres), 0.35)))
    val edges = Array.fill(nDocs * 3)((rnd.nextInt(nDocs).toLong,
      rnd.nextInt(nDocs).toLong, 1L + rnd.nextInt(5)))
      .filter(e => e._1 != e._2).distinctBy(e => (e._1, e._2))
    // link additions between traced nodes (a new node would force a
    // full re-trace instead of the incremental refresh)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val deltas = Array.fill(requests)(Array.fill(deltaEdges)(
      (Gen.pick(rnd, nodes), Gen.pick(rnd, nodes), 1L + rnd.nextInt(5)))
      .filter(e => e._1 != e._2))
    // disjoint opt-out sets, one per request
    val order = (0L until nDocs).toArray
    for (i <- order.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val optouts = order.grouped(perOp).take(requests).map(_.sorted).toArray
    val dg = new Gen.Digest
    docs.foreach { case (id, s, t) => dg.add(id); dg.add(s); dg.add(t) }
    vecs.foreach { case (id, v) => dg.add(id); dg.add(v) }
    (edges +: deltas).foreach(_.foreach { case (a, b, w) =>
      dg.add(a); dg.add(b); dg.add(w) })
    optouts.foreach(_.foreach(dg.add))
    Inputs(docs, vecs, edges, deltas, optouts, dg.hex)
  }
}
