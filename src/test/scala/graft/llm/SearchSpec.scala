package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 retrieval ([[Search]]): document frequencies count documents
  * (not occurrences), hand-computed score ordering holds, zero-overlap
  * documents never rank, ties break by id, and repeated query words
  * don't double-count. */
class SearchSpec extends SparkSpec {

  import spark.implicits._

  private def corpus = Seq(
    (1L, "a b a"),   // tf_a=2, dl=3
    (2L, "a c"),     // tf_a=1, dl=2
    (3L, "c c")      // no 'a'
  ).toDF("doc_id", "text")

  test("bm25Stats: df is per-document; avgdl exact") {
    val (dfreq, n, avgdl) = Search.bm25Stats(corpus, "doc_id", "text")
    val m = dfreq.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n === 3L)
    assert(m === Map("a" -> 2L, "b" -> 1L, "c" -> 2L)) // d3's cc = ONE doc
    assert(math.abs(avgdl - 7.0 / 3.0) < 1e-15)
  }

  test("bm25TopK: hand-computed ordering; no-overlap docs excluded") {
    val hits = Search.bm25TopK(corpus, "a", k = 10).collect()
    // higher tf wins despite the longer doc at these parameters:
    // score(d1)=idf·4.4/3.457… > score(d2)=idf·2.2/2.071…; d3 never ranks
    assert(hits.map(_.getLong(1)).toSeq === Seq(1L, 2L))
    assert(hits.map(_.getInt(0)).toSeq === Seq(1, 2))
    assert(hits.head.getSeq[Long](2) === Seq(2L)) // tf profile evidence
    assert(hits.head.getLong(3) === 3L)
  }

  test("bm25TopK: multi-term scoring ranks the c-heavy doc for 'c'") {
    val hits = Search.bm25TopK(corpus, "c c c", k = 2).collect()
    // repeated query words dedupe — 'c c c' scores like 'c'
    assert(hits.map(_.getLong(1)).toSeq === Seq(3L, 2L))
    val again = Search.bm25TopK(corpus, "c", k = 2).collect()
    assert(hits.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("bm25TopK: exact ties break by doc id; k truncates") {
    val twins = Seq((5L, "x y"), (4L, "x y"), (6L, "x y"))
      .toDF("doc_id", "text")
    val hits = Search.bm25TopK(twins, "x", k = 2).collect()
    assert(hits.map(_.getLong(1)).toSeq === Seq(4L, 5L))
  }

  test("bm25TopK: validation") {
    intercept[IllegalArgumentException](Search.bm25TopK(corpus, "  ", 3))
    intercept[IllegalArgumentException](Search.bm25TopK(corpus, "a", 0))
  }

  test("bm25JoinTopK: the inverted-index join agrees with the inlined scorer") {
    val queries = Seq((1L, "a"), (2L, "c c c"), (3L, "zzz")).toDF("qid", "text")
    val joined = Search.bm25JoinTopK(corpus, queries, k = 10).collect()
    val byQ = joined.groupBy(_.getLong(0))
    // same ranked doc order as the single-query scorer, per query
    assert(byQ(1L).sortBy(_.getInt(1)).map(_.getLong(2)).toSeq ===
      Search.bm25TopK(corpus, "a", 10).collect().map(_.getLong(1)).toSeq)
    assert(byQ(2L).sortBy(_.getInt(1)).map(_.getLong(2)).toSeq ===
      Search.bm25TopK(corpus, "c", 10).collect().map(_.getLong(1)).toSeq)
    // a query sharing no corpus term retrieves nothing
    assert(!byQ.contains(3L))
    // integer evidence: doc 1 for 'a' matched one term with tf 2, dl 3
    val d1 = byQ(1L).find(_.getLong(2) == 1L).get
    assert(d1.getLong(3) === 1L && d1.getLong(4) === 2L && d1.getLong(5) === 3L)
  }

  test("bm25JoinTopK: exact duplicate retrieves its source at rank 1 when terms discriminate") {
    // distinctive vocabulary: the copy's exclusive terms pin the source.
    // (On a near-uniform vocabulary BM25 length-norm can rank a denser
    // short doc above the source — that is correct BM25 behavior, so
    // the contamination-triage signal there is matched_terms coverage,
    // not rank; the oracle query binds the ranking either way.)
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "delta epsilon"),
      (3L, "alpha alpha zeta zeta")).toDF("doc_id", "text")
    val bench = Seq((7L, "alpha beta gamma delta")).toDF("qid", "text")
    val hits = Search.bm25JoinTopK(docs, bench, k = 3).collect()
    val top = hits.find(_.getInt(1) == 1).get
    assert(top.getLong(2) === 1L)
    assert(top.getLong(3) === 4L) // full term coverage
  }

  test("two-phase: serve from persisted postings is bit-identical to inline") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_ix").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(400)
      .localCheckpoint(true)
    Search.buildPostings(docs, dir, shards = 4)
    val bench = Seq((1L, "hash join merge"), (2L, "sort spill"),
      (3L, "zzz nothing")).toDF("qid", "text")
    val inline = Search.bm25JoinTopK(docs, bench, k = 5)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq
    val served = Search.bm25ServeJoinTopK(spark, dir, bench, k = 5)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq
    assert(served === inline)
    // the pushed-down path and the no-pushdown path agree too
    val noPush = Search.bm25ServeJoinTopK(spark, dir, bench, k = 5,
        termPushdownLimit = 0)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq
    assert(noPush === inline)
    // the served plan never aggregates the corpus: its only scan of
    // postings carries the term pushdown filter
    val plan = Search.bm25ServeJoinTopK(spark, dir, bench, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("isin"),
      s"expected a term-pruned postings scan:\n$plan")
  }

  test("two-phase: serve gate from persisted stats equals the inline gate") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_gix").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(400)
      .localCheckpoint(true)
    Search.buildPostings(docs, dir, shards = 4)
    val inline = Search.bm25Gate(docs, "hash join merge", 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val served = Search.bm25ServeGate(spark, dir, docs,
        "hash join merge", 0.9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(served === inline && served.nonEmpty)
    intercept[IllegalArgumentException](
      Search.bm25ServeGate(spark, dir, docs, "  ", 0.1))
  }

  test("appendPostings: append ≡ rebuild on the rank + evidence contract") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(400)
      .localCheckpoint(true)
    val dirA = java.nio.file.Files
      .createTempDirectory("graft_bm25_app").toString
    val dirB = java.nio.file.Files
      .createTempDirectory("graft_bm25_reb").toString
    Search.buildPostings(docs.where(col("doc_id") % 7 =!= 0), dirA,
      shards = 4)
    Search.appendPostings(spark, dirA, docs.where(col("doc_id") % 7 === 0),
      shards = 2)
    Search.buildPostings(docs, dirB, shards = 4)
    val bench = Seq((1L, "hash join merge"), (2L, "sort spill"))
      .toDF("qid", "text")
    val appended = Search.bm25ServeJoinTopK(spark, dirA, bench, k = 6)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq
    val rebuilt = Search.bm25ServeJoinTopK(spark, dirB, bench, k = 6)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq
    assert(appended === rebuilt)
    // the merged stats are the union's: n adds, avgdl from token mass
    // (the append landed them in its committed delta event, under the
    // build's committed generation)
    val st = spark.read.parquet(s"$dirA/gen-0000/delta-0000/stats").head()
    assert(st.getAs[Long]("n") === 400L)
    val dl = docs.agg(sum(size(filter(split(trim(
        regexp_replace(lower(col("text")), "\\s+", " ")), " "),
      w => w =!= "")).cast("double"))).head().getDouble(0)
    assert(math.abs(st.getAs[Double]("avgdl") - dl / 400.0) < 1e-9)
  }

  test("rebuildPostingsIfStale: zero drift skips; past the floor rebuilds and serve equals fresh") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(300)
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_stale").toString
    val half = docs.where(col("doc_id") % 2 === 0)
    Search.buildPostings(half, dir, shards = 4)
    val healthy = Search.rebuildPostingsIfStale(spark, dir, half, 0.5)
      .head()
    assert(!healthy.getAs[Boolean]("rebuilt")
      && healthy.getAs[Double]("drift") === 0.0)
    val stale = Search.rebuildPostingsIfStale(spark, dir, docs, 0.5).head()
    assert(stale.getAs[Boolean]("rebuilt")
      && stale.getAs[Long]("n_index_after") === docs.count())
    // post-rebuild serving equals a fresh full build, row for row
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_bm25_fresh").toString
    Search.buildPostings(docs, fresh, shards = 4)
    val bench = Seq((1L, "hash join merge")).toDF("qid", "text")
    assert(Search.bm25ServeJoinTopK(spark, dir, bench, 5)
        .orderBy("rank").collect().map(_.toString).toSeq ===
      Search.bm25ServeJoinTopK(spark, fresh, bench, 5)
        .orderBy("rank").collect().map(_.toString).toSeq)
    intercept[IllegalArgumentException](
      Search.rebuildPostingsIfStale(spark, dir, docs, 0.0))
  }

  test("rrfFuse: rank-2-everywhere beats rank-1-somewhere; ties break by id") {
    // signal A ranks (10 @1, 7 @2); signal B ranks (20 @1, 7 @2):
    // doc 7 (rank 2 in BOTH) must fuse above each signal's rank-1
    val a = Seq((1L, 10L, 1), (1L, 7L, 2)).toDF("qid", "doc_id", "rank")
    val b = Seq((1L, 20L, 1), (1L, 7L, 2)).toDF("qid", "doc_id", "rank")
    val fused = Search.rrfFuse(Seq(a, b), k = 5).collect()
    assert(fused.map(r => (r.getInt(1), r.getLong(2))).toSeq ===
      Seq((1, 7L), (2, 10L), (3, 20L))) // 10/20 tie 1/61 → id order
    val d7 = fused.find(_.getLong(2) == 7L).get
    assert(d7.getLong(3) === 2L && d7.getLong(4) === 2L) // signals, best
    intercept[IllegalArgumentException](Search.rrfFuse(Nil, 5))
    intercept[IllegalArgumentException](Search.rrfFuse(Seq(a), 0))
  }

  test("rrfFuse weights: extreme weighting promotes that signal's rank-1; validation rejects bad shapes") {
    val a = Seq((1L, 10L, 1), (1L, 7L, 2)).toDF("qid", "doc_id", "rank")
    val b = Seq((1L, 20L, 1), (1L, 7L, 2)).toDF("qid", "doc_id", "rank")
    // doc 7 (rank 2 in both) scores the invariant 1/62 under any
    // convex weighting; signal A's own rank-1 overtakes it once
    // w_a > 61/62
    val lexHeavy = Search.rrfFuse(Seq(a, b), k = 3,
      weights = Seq(0.99, 0.01)).collect()
    assert(lexHeavy.map(r => (r.getInt(1), r.getLong(2))).toSeq
      === Seq((1, 10L), (2, 7L), (3, 20L)))
    val semHeavy = Search.rrfFuse(Seq(a, b), k = 3,
      weights = Seq(0.01, 0.99)).collect()
    assert(semHeavy.map(r => (r.getInt(1), r.getLong(2))).toSeq
      === Seq((1, 20L), (2, 7L), (3, 10L)))
    // a balanced weighting equals the unweighted fusion (ranks only —
    // the score scale cancels in the ordering)
    assert(Search.rrfFuse(Seq(a, b), k = 3, weights = Seq(2.0, 2.0))
        .collect().map(_.toString).toSeq ===
      Search.rrfFuse(Seq(a, b), k = 3).collect().map(_.toString).toSeq)
    intercept[IllegalArgumentException](
      Search.rrfFuse(Seq(a, b), k = 3, weights = Seq(1.0)))
    intercept[IllegalArgumentException](
      Search.rrfFuse(Seq(a, b), k = 3, weights = Seq(1.0, 0.0)))
  }

  test("hybridRetrieve: fusion finds the contaminant each signal misses") {
    val fx = Seq(
      (1L, "qqalpha qqbeta qqgamma w1 w2 w3 w4 w5", Seq(2f, 1f, 0f, 0f)),
      (2L, "qqalpha qqbeta qqgamma qqalpha qqbeta qqgamma",
        Seq(0f, 0f, 1f, 0f)),
      (3L, "zzz yyy xxx", Seq(8f, 1f, 0f, 0f)),
      (4L, "other words entirely", Seq(0f, 1f, 1f, 0f)),
      (5L, "more unrelated text", Seq(1f, 2f, 2f, 0f))
    ).toDF("doc_id", "text", "embedding")
    val bench = Seq((100L, "qqalpha qqbeta qqgamma", Seq(1f, 0f, 0f, 0f)))
      .toDF("qid", "text", "embedding")
    val docs = fx.select(col("doc_id"), col("text"))
    val embs = fx.select(col("doc_id").as("vec_id"), col("embedding"))
    // each signal's own rank 1 is a herring, not the contaminant
    val lex1 = Search.bm25JoinTopK(docs, bench.select("qid", "text"), 3)
      .where(col("rank") === 1).head().getLong(2)
    val sem1 = Similarity.bruteForceTopK(
        bench.select(col("qid").as("vec_id"), col("embedding")), embs, 3)
      .where(col("rank") === 1).head().getLong(2)
    assert(lex1 === 2L && sem1 === 3L)
    // the fusion's rank 1 IS the contaminant, surfaced by both signals
    val top = Search.hybridRetrieve(docs, embs, bench, k = 5,
      kPerSignal = 3).where(col("rank") === 1).head()
    assert(top.getLong(2) === 1L && top.getLong(3) === 2L)
  }

  test("bm25Stats: empty corpus raises a clear message, not an NPE") {
    val e = intercept[IllegalArgumentException](
      Search.bm25Stats(corpus.where(lit(false)), "doc_id", "text"))
    assert(e.getMessage.contains("empty corpus"))
  }

  test("appendPostings: an uncommitted delta (crashed append) is invisible and the retry skips past it") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_crash").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(300)
      .localCheckpoint(true)
    Search.buildPostings(docs.where(col("doc_id") % 7 =!= 0), dir,
      shards = 4)
    val bench = Seq((1L, "hash join merge")).toDF("qid", "text")
    val before = Search.bm25ServeJoinTopK(spark, dir, bench, k = 5)
      .collect().map(_.toString).toSeq
    // simulate a crash mid-append: a delta dir with data but NO
    // marker, under the serving generation (the build committed it
    // as gen-0000)
    val root = s"$dir/gen-0000"
    val crashed = s"$root/delta-0000"
    spark.read.parquet(s"$root/df").write.parquet(s"$crashed/df")
    spark.read.parquet(s"$root/stats")
      .withColumn("n", lit(999999L)).write.parquet(s"$crashed/stats")
    // serving ignores the uncommitted event entirely
    assert(Search.bm25ServeJoinTopK(spark, dir, bench, k = 5)
      .collect().map(_.toString).toSeq === before)
    // the retry commits the NEXT number and leaves the straggler alone
    // (it could be a writer mid-append): still uncommitted, unserved
    Search.appendPostings(spark, dir, docs.where(col("doc_id") % 7 === 0),
      shards = 2)
    assert(new java.io.File(s"$root/delta-0001/_graft_delta_committed")
      .exists())
    assert(new java.io.File(crashed).exists() &&
      !new java.io.File(s"$crashed/_graft_delta_committed").exists())
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_bm25_crash_fresh").toString
    Search.buildPostings(docs, fresh, shards = 4)
    def served(d: String) = Search.bm25ServeJoinTopK(spark, d, bench, k = 5)
      .orderBy("rank").collect().map(_.toString).toSeq
    assert(served(dir) === served(fresh))
    // a compaction retires the generation holding the straggler, and
    // the vacuum then reclaims it with the rest of the retired surface
    Search.compactPostings(spark, dir, shards = 2)
    Search.vacuumPostings(spark, dir, graceMs = 0L)
    assert(!new java.io.File(root).exists())
    assert(served(dir) === served(fresh))
  }

  test("retractPostings: serving after a takedown is bit-equal to a rebuild over the survivors") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(300)
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_retract").toString
    Search.buildPostings(docs, dir, shards = 4)
    val optOut = docs.where(col("doc_id") % 7 === 3).select(col("doc_id"))
    val audit = Search.retractPostings(spark, dir, optOut, "doc_id").head()
    val nAll = docs.count()
    val nOut = optOut.count()
    assert(audit.getAs[Long]("n_index_before") === nAll)
    assert(audit.getAs[Long]("n_retracted") === nOut)
    assert(audit.getAs[Long]("n_index_after") === nAll - nOut)
    // tombstone-served ≡ rebuild-after-delete, row for row: same N,
    // same df, same avgdl, retracted docs unreachable
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_bm25_retract_fresh").toString
    Search.buildPostings(docs.where(col("doc_id") % 7 =!= 3), fresh,
      shards = 4)
    val bench = Seq((1L, "hash join merge"), (2L, "sort spill disk"))
      .toDF("qid", "text")
    assert(Search.bm25ServeJoinTopK(spark, dir, bench, k = 8)
        .orderBy("qid", "rank").collect().map(_.toString).toSeq ===
      Search.bm25ServeJoinTopK(spark, fresh, bench, k = 8)
        .orderBy("qid", "rank").collect().map(_.toString).toSeq)
    // the serve gate drops tombstoned rows when the frame carries ids
    val gatedIds = Search.bm25ServeGate(spark, dir, docs,
        "hash join merge", 1e-9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gatedIds.forall(_ % 7 != 3) && gatedIds.nonEmpty)
    // re-retracting the same ids is a no-op: stats never double-subtract
    val again = Search.retractPostings(spark, dir, optOut, "doc_id").head()
    assert(again.getAs[Long]("n_retracted") === 0L)
    assert(again.getAs[Long]("n_index_after") === nAll - nOut)
    // a tombstoned id cannot sneak back in through the appender
    val e = intercept[IllegalArgumentException](
      Search.appendPostings(spark, dir, docs.where(col("doc_id") % 7 === 3)))
    assert(e.getMessage.contains("RETRACTED"))
    // retracting everything is rejected, not a divide-by-zero
    intercept[IllegalArgumentException](
      Search.retractPostings(spark, dir,
        docs.select(col("doc_id")), "doc_id"))
  }

  test("retractPostings: append after retraction and rebuild clearing tombstones") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_ret_app").toString
    Search.buildPostings(docs.where(col("doc_id") % 5 =!= 0), dir,
      shards = 4)
    Search.retractPostings(spark, dir,
      docs.where(col("doc_id") % 5 === 1).select(col("doc_id")), "doc_id")
    // append of genuinely-new docs composes on top of the retraction
    Search.appendPostings(spark, dir, docs.where(col("doc_id") % 5 === 0),
      shards = 2)
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_bm25_ret_app_fresh").toString
    Search.buildPostings(docs.where(col("doc_id") % 5 =!= 1), fresh,
      shards = 4)
    val bench = Seq((1L, "hash join merge")).toDF("qid", "text")
    assert(Search.bm25ServeJoinTopK(spark, dir, bench, k = 8)
        .orderBy("rank").collect().map(_.toString).toSeq ===
      Search.bm25ServeJoinTopK(spark, fresh, bench, k = 8)
        .orderBy("rank").collect().map(_.toString).toSeq)
    // a rebuild clears tombstones: the retracted ids serve again, and
    // an append of a previously-tombstoned id is legal post-rebuild
    Search.buildPostings(docs, dir, shards = 4)
    Search.appendPostings(spark, dir,
      Seq((900001L, "hash join merge")).toDF("doc_id", "text"))
    val served = Search.bm25ServeJoinTopK(spark, dir, bench, k = 200)
      .collect().map(_.getLong(2)).toSet
    assert(served.exists(_ % 5 == 1), "rebuild must clear tombstones")
  }

  test("compactPostings: fold the event log into one generation; serving bit-identical; lifecycle continues") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(300)
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_compact").toString
    Search.buildPostings(docs.where(col("doc_id") % 7 > 1), dir, shards = 4)
    Search.appendPostings(spark, dir, docs.where(col("doc_id") % 7 === 0),
      shards = 2)
    Search.appendPostings(spark, dir, docs.where(col("doc_id") % 7 === 1),
      shards = 2)
    Search.retractPostings(spark, dir,
      docs.where(col("doc_id") % 7 === 3).select(col("doc_id")), "doc_id")
    val bench = Seq((1L, "hash join merge"), (2L, "sort spill disk"))
      .toDF("qid", "text")
    val before = Search.bm25ServeJoinTopK(spark, dir, bench, k = 8)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq
    val audit = Search.compactPostings(spark, dir, shards = 4).head()
    assert(audit.getAs[Long]("events_folded") === 2L) // two append batches
    assert(audit.getAs[Long]("tombstones_cleared") ===
      docs.where(col("doc_id") % 7 === 3).count())
    // serving is bit-identical through the generation swap
    assert(Search.bm25ServeJoinTopK(spark, dir, bench, k = 8)
      .orderBy("qid", "rank").collect().map(_.toString).toSeq === before)
    // compaction does NOT reclaim: a reader that resolved the
    // pre-compaction state keeps its files (lock-free serving); the
    // retired build generation and its deltas are still on disk
    val namesPre = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(namesPre.contains("gen-0000") && namesPre.contains("gen-0001"),
      namesPre.toString)
    // a young retired surface survives a graceful vacuum (the swap
    // has not soaked) ...
    assert(Search.vacuumPostings(spark, dir).isEmpty)
    assert(new java.io.File(s"$dir/gen-0000").exists())
    // ... and a zero-grace vacuum reclaims it: one generation left,
    // no flat base, no deltas
    val removed = Search.vacuumPostings(spark, dir, graceMs = 0L)
    assert(removed.exists(_.endsWith("gen-0000")), removed.toString)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("gen-0001") && !names.contains("gen-0000")
      && !names.contains("postings")
      && !names.exists(_.startsWith("delta-")), names.toString)
    assert(new java.io.File(s"$dir/gen-0001").listFiles()
      .forall(!_.getName.startsWith("delta-")))
    // tombstones physically cleared: the once-retracted ids may re-enter
    Search.appendPostings(spark, dir,
      docs.where(col("doc_id") % 7 === 3), shards = 2)
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_bm25_compact_f").toString
    Search.buildPostings(docs, fresh, shards = 4)
    assert(Search.bm25ServeJoinTopK(spark, dir, bench, k = 8)
        .orderBy("qid", "rank").collect().map(_.toString).toSeq ===
      Search.bm25ServeJoinTopK(spark, fresh, bench, k = 8)
        .orderBy("qid", "rank").collect().map(_.toString).toSeq)
    // a second compaction + zero-grace vacuum retires the first gen
    Search.compactPostings(spark, dir, shards = 4)
    Search.vacuumPostings(spark, dir, graceMs = 0L)
    val gens = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("gen-")).toSeq
    assert(gens === Seq("gen-0002"))
    assert(Search.bm25ServeJoinTopK(spark, dir, bench, k = 8)
        .orderBy("qid", "rank").collect().map(_.toString).toSeq ===
      Search.bm25ServeJoinTopK(spark, fresh, bench, k = 8)
        .orderBy("qid", "rank").collect().map(_.toString).toSeq)
    // an UNCOMMITTED generation (crashed compaction) is invisible to
    // serving, survives a graceful vacuum (could be a writer
    // mid-build), and a zero-grace vacuum reclaims the straggler
    val crashed = new java.io.File(s"$dir/gen-0099/postings")
    crashed.mkdirs()
    assert(Search.bm25ServeJoinTopK(spark, dir, bench, k = 8)
      .orderBy("qid", "rank").collect().map(_.toString).nonEmpty)
    assert(Search.vacuumPostings(spark, dir).isEmpty)
    assert(new java.io.File(s"$dir/gen-0099").exists())
    assert(Search.vacuumPostings(spark, dir, graceMs = 0L)
      .exists(_.endsWith("gen-0099")))
    assert(!new java.io.File(s"$dir/gen-0099").exists())
  }

  test("rebuildPostingsIfStale: equal-count churn and in-place rewrites are not drift-zero") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .localCheckpoint(true)
    val n = docs.count()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_churn").toString
    Search.buildPostings(docs, dir, shards = 4)
    // equal-count churn: every doc_id % 10 == 4 replaced by a NEW doc
    val m = docs.where(col("doc_id") % 10 === 4).count()
    val churned = docs.where(col("doc_id") % 10 =!= 4)
      .unionByName(docs.where(col("doc_id") % 10 === 4)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
      .localCheckpoint(true)
    assert(churned.count() === n)
    val audit = Search.rebuildPostingsIfStale(spark, dir, churned, 0.1)
      .head()
    // membership diff counts both directions: 2m changed documents
    assert(audit.getAs[Long]("n_corpus") === n)
    assert(audit.getAs[Double]("drift") ===
      math.rint(2.0 * m / n * 1e6) / 1e6)
    assert(audit.getAs[Boolean]("rebuilt"))
    // in-place rewrite shifting token length: also visible drift
    Search.buildPostings(docs, dir, shards = 4)
    val rewritten = docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 4,
        concat(col("text"), lit(" extra tokens appended here")))
        .otherwise(col("text")).as("text"))
    val audit2 = Search.rebuildPostingsIfStale(spark, dir, rewritten, 0.1)
      .head()
    assert(audit2.getAs[Double]("drift") ===
      math.rint(2.0 * m / n * 1e6) / 1e6)
    assert(audit2.getAs[Boolean]("rebuilt"))
  }

  test("hybridRetrieveIndexed: full-probe indexed fusion equals the inline fusion") {
    val fx = Seq(
      (1L, "qqalpha qqbeta qqgamma w1 w2 w3 w4 w5", Seq(2f, 1f, 0f, 0f)),
      (2L, "qqalpha qqbeta qqgamma qqalpha qqbeta qqgamma",
        Seq(0f, 0f, 1f, 0f)),
      (3L, "zzz yyy xxx", Seq(8f, 1f, 0f, 0f)),
      (4L, "other words entirely", Seq(0f, 1f, 1f, 0f)),
      (5L, "more unrelated text", Seq(1f, 2f, 2f, 0f))
    ).toDF("doc_id", "text", "embedding")
    val bench = Seq((100L, "qqalpha qqbeta qqgamma", Seq(1f, 0f, 0f, 0f)))
      .toDF("qid", "text", "embedding")
    val docs = fx.select(col("doc_id"), col("text"))
    val embs = fx.select(col("doc_id").as("vec_id"), col("embedding"))
    val bmDir = java.nio.file.Files
      .createTempDirectory("graft_hyb_bm25").toString
    val annDir = java.nio.file.Files
      .createTempDirectory("graft_hyb_ann").toString
    Search.buildPostings(docs, bmDir, shards = 2)
    Similarity.buildIvfIndex(embs, annDir, nCentroids = 2)
    val inline = Search.hybridRetrieve(docs, embs, bench, k = 5,
      kPerSignal = 3).orderBy("rank").collect().map(_.toString).toSeq
    // nProbe covering every cluster: probing is pruning, the re-rank is
    // exact, so the indexed fusion must reproduce the inline one
    val indexed = Search.hybridRetrieveIndexed(spark, bmDir, annDir,
        bench, k = 5, kPerSignal = 3, nProbe = 2)
      .orderBy("rank").collect().map(_.toString).toSeq
    assert(indexed === inline)
    assert(indexed.nonEmpty)
  }

  test("legacy flat base without ids: append then retract still covers BASE membership") {
    // zero-token docs write no postings rows, so a legacy base (no
    // persisted ids) cannot carry them — keep the fixture tokenful
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      .limit(200)
      .localCheckpoint(true)
    val base = docs.where(col("doc_id") % 3 =!= 0)
    val staging = java.nio.file.Files
      .createTempDirectory("graft_bm25_legacy_src").toString
    Search.buildPostings(base, staging, shards = 2)
    // reconstruct the pre-`ids`, pre-generation legacy layout: flat
    // postings/df/stats at the root, NO ids frame, no gen dirs
    val legacy = java.nio.file.Files
      .createTempDirectory("graft_bm25_legacy").toString
    val src = Search.servingRoot(spark, staging)
    spark.read.parquet(s"$src/postings").write.parquet(s"$legacy/postings")
    spark.read.parquet(s"$src/df").write.parquet(s"$legacy/df")
    spark.read.parquet(s"$src/stats").coalesce(1)
      .write.parquet(s"$legacy/stats")
    // a NEW-STYLE append lands a delta WITH ids — base membership must
    // not be masked by it (deriving ids only when none exist anywhere
    // would skip the legacy-base derivation here)
    Search.appendPostings(spark, legacy, docs.where(col("doc_id") % 3 === 0),
      shards = 2)
    // retract BASE docs: they must register as present (tombstone
    // written, stats patched), not silently no-op
    val optOut = base.where(col("doc_id") % 5 === 2).select(col("doc_id"))
    val audit = Search.retractPostings(spark, legacy, optOut, "doc_id")
      .head()
    assert(audit.getAs[Long]("n_retracted") === optOut.count())
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_bm25_legacy_f").toString
    Search.buildPostings(
      docs.where(col("doc_id") % 3 === 0 || col("doc_id") % 5 =!= 2),
      fresh, shards = 2)
    val bench = Seq((1L, "hash join merge"), (2L, "sort spill disk"))
      .toDF("qid", "text")
    assert(Search.bm25ServeJoinTopK(spark, legacy, bench, k = 8)
        .orderBy("qid", "rank").collect().map(_.toString).toSeq ===
      Search.bm25ServeJoinTopK(spark, fresh, bench, k = 8)
        .orderBy("qid", "rank").collect().map(_.toString).toSeq)
    // staleness over the same membership view reads zero drift against
    // the true corpus (base ∪ appended minus retracted) — the legacy
    // base population is not reported as churn
    val live = docs.where(col("doc_id") % 3 === 0 || col("doc_id") % 5 =!= 2)
    val stale = Search.rebuildPostingsIfStale(spark, legacy, live, 0.9)
      .head()
    assert(stale.getAs[Double]("drift") === 0.0
      && !stale.getAs[Boolean]("rebuilt"), stale.toString)
  }

  test("resolveIndex orders events numerically past the %04d padding") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(150)
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_ord").toString
    Search.buildPostings(docs.where(col("doc_id") % 3 === 0), dir,
      shards = 2)
    Search.appendPostings(spark, dir, docs.where(col("doc_id") % 3 === 1),
      shards = 2)
    // age the event past the padding: delta-0000 → delta-9999, so the
    // NEXT event is delta-10000 — lexically SMALLER than delta-9999,
    // numerically larger. Readers must adopt the numeric latest.
    val root = s"$dir/gen-0000"
    assert(new java.io.File(s"$root/delta-0000")
      .renameTo(new java.io.File(s"$root/delta-9999")))
    Search.appendPostings(spark, dir, docs.where(col("doc_id") % 3 === 2),
      shards = 2)
    assert(new java.io.File(s"$root/delta-10000").exists())
    // stats resolve from delta-10000 (the numeric latest): full corpus
    assert(Search.servingStats(spark, dir).head().getAs[Long]("n")
      === docs.count())
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_bm25_ord_f").toString
    Search.buildPostings(docs, fresh, shards = 2)
    val bench = Seq((1L, "hash join merge")).toDF("qid", "text")
    assert(Search.bm25ServeJoinTopK(spark, dir, bench, k = 6)
        .orderBy("rank").collect().map(_.toString).toSeq ===
      Search.bm25ServeJoinTopK(spark, fresh, bench, k = 6)
        .orderBy("rank").collect().map(_.toString).toSeq)
  }

  test("buildPostings is crash-safe: an interrupted rebuild leaves the old generation serving") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_bcrash").toString
    Search.buildPostings(docs.where(col("doc_id") % 2 === 0), dir,
      shards = 2)
    val bench = Seq((1L, "hash join merge")).toDF("qid", "text")
    val before = Search.bm25ServeJoinTopK(spark, dir, bench, k = 5)
      .orderBy("rank").collect().map(_.toString).toSeq
    // a rebuild that crashed mid-write: partial data, NO commit marker
    spark.read.parquet(s"${Search.servingRoot(spark, dir)}/postings")
      .limit(3).write.parquet(s"$dir/gen-0001/postings")
    assert(Search.bm25ServeJoinTopK(spark, dir, bench, k = 5)
      .orderBy("rank").collect().map(_.toString).toSeq === before)
    // the retried rebuild skips past the straggler and swaps atomically
    Search.buildPostings(docs, dir, shards = 2)
    assert(Search.servingRoot(spark, dir).endsWith("gen-0002"))
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_bm25_bcrash_f").toString
    Search.buildPostings(docs, fresh, shards = 2)
    assert(Search.bm25ServeJoinTopK(spark, dir, bench, k = 5)
        .orderBy("rank").collect().map(_.toString).toSeq ===
      Search.bm25ServeJoinTopK(spark, fresh, bench, k = 5)
        .orderBy("rank").collect().map(_.toString).toSeq)
  }

  test("a reader resolved pre-compaction completes after the compaction commits") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
      .localCheckpoint(true)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bm25_inflight").toString
    Search.buildPostings(docs.where(col("doc_id") % 3 =!= 0), dir,
      shards = 2)
    Search.appendPostings(spark, dir, docs.where(col("doc_id") % 3 === 0),
      shards = 2)
    val bench = Seq((1L, "hash join merge")).toDF("qid", "text")
    // resolve the serving view NOW (paths bind at call time) but do
    // not execute yet — the in-flight lock-free reader
    val inflight = Search.bm25ServeJoinTopK(spark, dir, bench, k = 6)
    val want = Search.bm25ServeJoinTopK(spark, dir, bench, k = 6)
      .orderBy("rank").collect().map(_.toString).toSeq
    Search.compactPostings(spark, dir, shards = 2)
    // no inline reclaim: the pre-compaction reader's files still exist
    assert(inflight.orderBy("rank").collect().map(_.toString).toSeq
      === want)
  }

  test("hybridRetrieveIndexed family=ivfpq: compressed-index fusion equals the inline fusion at full probe") {
    val fx = Seq(
      (1L, "qqalpha qqbeta qqgamma w1 w2 w3 w4 w5", Seq(2f, 1f, 0f, 0f)),
      (2L, "qqalpha qqbeta qqgamma qqalpha qqbeta qqgamma",
        Seq(0f, 0f, 1f, 0f)),
      (3L, "zzz yyy xxx", Seq(8f, 1f, 0f, 0f)),
      (4L, "other words entirely", Seq(0f, 1f, 1f, 0f)),
      (5L, "more unrelated text", Seq(1f, 2f, 2f, 0f))
    ).toDF("doc_id", "text", "embedding")
    val bench = Seq((100L, "qqalpha qqbeta qqgamma", Seq(1f, 0f, 0f, 0f)))
      .toDF("qid", "text", "embedding")
    val docs = fx.select(col("doc_id"), col("text"))
    val embs = fx.select(col("doc_id").as("vec_id"), col("embedding"))
    val bmDir = java.nio.file.Files
      .createTempDirectory("graft_hybpq_bm25").toString
    val annDir = java.nio.file.Files
      .createTempDirectory("graft_hybpq_ann").toString
    Search.buildPostings(docs, bmDir, shards = 2)
    Similarity.buildIvfPqIndex(embs, annDir, nCentroids = 2, m = 2, k = 2)
    val inline = Search.hybridRetrieve(docs, embs, bench, k = 5,
      kPerSignal = 3).orderBy("rank").collect().map(_.toString).toSeq
    // full probe + shortlist covering the corpus: the ADC stage is
    // pure pruning, the exact re-rank sees everything — the
    // compressed-index fusion must reproduce the inline one
    val indexed = Search.hybridRetrieveIndexed(spark, bmDir, annDir,
        bench, k = 5, kPerSignal = 3, nProbe = 2, family = "ivfpq",
        rerank = Some(embs), shortlist = 50)
      .orderBy("rank").collect().map(_.toString).toSeq
    assert(indexed === inline && indexed.nonEmpty)
    // the family needs its re-rank frame — a missing one fails loudly
    val e = intercept[IllegalArgumentException](
      Search.hybridRetrieveIndexed(spark, bmDir, annDir, bench, k = 5,
        family = "ivfpq"))
    assert(e.getMessage.contains("rerank"))
    intercept[IllegalArgumentException](
      Search.hybridRetrieveIndexed(spark, bmDir, annDir, bench, k = 5,
        family = "nope"))
  }

  test("bm25Gate: threshold keeps exactly the scoring docs; composes as a gate") {
    // gate at a tiny threshold ≡ "any query term present"
    val kept = Search.bm25Gate(corpus, "a", minScore = 1e-9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L)) // d3 shares no term
    // a threshold above every score keeps nothing
    assert(Search.bm25Gate(corpus, "a", minScore = 1e9).count() === 0L)
    // schema passes through unchanged (a gate, not a projection)
    assert(Search.bm25Gate(corpus, "a", 1e-9).columns.toSeq
      === corpus.columns.toSeq)
    intercept[IllegalArgumentException](Search.bm25Gate(corpus, " ", 0.1))
  }
}
