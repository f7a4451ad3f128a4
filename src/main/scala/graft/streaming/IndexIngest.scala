package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Similarity
import graft.util.Par.inParallel

/** Continuous ANN-index ingestion — the streaming twins of
  * [[graft.llm.Similarity.appendPqIndex]] /
  * [[graft.llm.Similarity.appendIvfIndex]], built on the same
  * per-micro-batch ledger pattern as the continuous-crawl ingest
  * (`Sources.readWarcResponsesStream` + `Dedup.exactDedupAgainst`):
  * each micro-batch is anti-joined against the ids ALREADY IN THE
  * INDEX before the batch append runs, so the index itself is the
  * ledger.
  *
  * Why that anti-join and not stream state: `foreachBatch` is
  * at-least-once — after a failure the same batch can replay — and
  * vectors can legitimately recur across batches (re-crawled pages,
  * re-emitted embeddings). Dropping already-indexed ids per batch
  * makes the append IDEMPOTENT (effective exactly-once on ids)
  * without any in-memory stream state: there is NO watermark and NO
  * state store to bound, because the only state is the index on disk.
  * The ledger probe reads ONLY the id column of the codes/assignments
  * frame (column-pruned parquet scan, no vectors), so per-batch cost
  * tracks the id column's size, not the index payload — the same
  * flat-vs-ledger-growth shape `dedup_urls_incremental` probes.
  *
  * Stream-append ≡ batch-append on the same batches (spec-bound in
  * StreamingSpec): the batch halves already guarantee
  * append ≡ encode-the-union with the frozen model/centroids, and the
  * ledger anti-join only removes rows the batch path would duplicate.
  * Codebook/centroid drift as appends accumulate is the SAME
  * documented maintenance trade as the batch appends — the
  * `ann_recall_audit` row plus SimilaritySpec's drift floor are the
  * tripwires, and a periodic rebuild re-centers.
  */
object IndexIngest {

  private type SchemaMemo =
    java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.types.StructType]

  private def newSchemaMemo: SchemaMemo = new SchemaMemo(null)

  /** Read a ledger directory with a PER-STREAM-INSTANCE schema memo: a
    * ledger's schema is decided at its birth and never changes (the
    * generation swaps the appenders follow keep the layout), so every
    * micro-batch after the first skips the parquet footer/schema
    * inference read — the `transitionsLedgerSink` once-per-sink probe
    * (optimization round 16) generalized to every per-batch ledger
    * scan. */
  private def ledgerRead(spark: org.apache.spark.sql.SparkSession,
                         path: String, memo: SchemaMemo): DataFrame = {
    val cached = memo.get()
    val df = (if (cached != null) spark.read.schema(cached)
      else spark.read).parquet(path)
    if (cached == null) memo.set(df.schema)
    df
  }

  /** The two driver scalars every pack append needs from the existing
    * assignment — total assigned tokens (the carried offset) and, for
    * integral id columns, the max id (the monotone-append guard) — in
    * ONE aggregation job instead of the two full ledger scans the
    * separate [[graft.llm.Packing.assignedTokenTotal]] + max-id calls
    * paid per micro-batch. Values are identical by construction. */
  private def assignOffsetAndBound(existing: DataFrame): (Long, Option[Long]) = {
    val integralId = existing.schema("doc_id").dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val r = existing.agg(
      max(col("token_offset") + col("n_tokens")).as("__tot"),
      (if (integralId) max(col("doc_id").cast("long"))
       else lit(null).cast("long")).as("__max")).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0),
      if (!integralId || r.isNullAt(1)) None else Some(r.getLong(1)))
  }

  /** Append a stream of (id, vector) rows to a persisted PQ index
    * (`dir/codebooks` + `dir/codes`, built by `buildPqIndex`). New ids
    * are encoded with the EXISTING codebooks and appended to the codes
    * frame; ids already indexed (or repeated within the batch) are
    * dropped. Returns the started query; callers own its lifecycle. */
  def appendPqIndexStream(vecs: DataFrame, dir: String,
                          cIdCol: String = "vec_id",
                          vecCol: String = "embedding",
                          curate: DataFrame => DataFrame = identity)
      : StreamingQuery = {
    require(vecs.isStreaming, "appendPqIndexStream: expected a streaming frame")
    val ledgerSchema = newSchemaMemo // layout survives generation swaps
    vecs.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      // generation resolved PER BATCH: after a reindex swap the ledger
      // probe and the append both move to the new serving generation
      // on the next micro-batch (resolving once at stream start would
      // probe the retired ledger and re-append replayed ids)
      val root = Similarity.resolveIndexRoot(batch.sparkSession, dir)
      appendBatch(curate(batch.toDF()), s"$root/codes", "vec_id",
        fresh => Similarity.appendPqIndex(batch.sparkSession, fresh, root,
          cIdCol, vecCol), batchIdCol = cIdCol, ledgerSchema)
    }.start()
  }

  /** Append a stream of (id, vector) rows to a persisted IVF index
    * (`dir/centroids` + cluster-partitioned `dir/assignments`, built
    * by `buildIvfIndex`). Assignment replays the build's own rule
    * against the FROZEN centroids; the partitioned append only adds
    * files. Same ledger idempotence as the PQ twin.
    *
    * `semanticDedupThreshold` turns on dedup-before-indexing (the
    * vector-store ingest hygiene published pipelines run): each fresh
    * vector probes the index for its nearest neighbor and is DROPPED
    * when a ≥ threshold cosine twin is already indexed — a different
    * id carrying semantically-identical content (re-crawled page,
    * re-encoded asset) never lands. The probe is the index's own
    * partition-pruned search over the fresh rows only, so per-batch
    * cost tracks the batch, not the index. In-batch twins (neither
    * indexed yet) both land — run the `semdedup` transform kind on the
    * batch upstream when that matters; across batches the second twin
    * drops against the first. */
  def appendIvfIndexStream(vecs: DataFrame, dir: String,
                           cIdCol: String = "vec_id",
                           vecCol: String = "embedding",
                           semanticDedupThreshold: Option[Double] = None,
                           nProbe: Int = 2,
                           curate: DataFrame => DataFrame = identity)
      : StreamingQuery = {
    require(vecs.isStreaming, "appendIvfIndexStream: expected a streaming frame")
    semanticDedupThreshold.foreach(t => require(t > 0.0 && t <= 1.0,
      s"appendIvfIndexStream: semanticDedupThreshold must be in (0,1], got $t"))
    val ledgerSchema = newSchemaMemo
    vecs.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      // per-batch generation resolve — see appendPqIndexStream
      val root = Similarity.resolveIndexRoot(batch.sparkSession, dir)
      appendBatch(curate(batch.toDF()), s"$root/assignments", "neighbor_id",
        fresh => {
          val kept = semanticDedupThreshold match {
            case None => fresh
            case Some(t) =>
              val twins = Similarity.ivfQueryIndex(batch.sparkSession, root,
                  fresh, k = 1, nProbe, qIdCol = cIdCol, vecCol = vecCol)
                .where(col("cosine") >= t)
                .select(col("query_id").as("__graft_twin"))
              fresh.join(twins, col(cIdCol) === col("__graft_twin"),
                "left_anti")
          }
          Similarity.appendIvfIndex(batch.sparkSession, kept, root,
            cIdCol, vecCol)
        }, batchIdCol = cIdCol, ledgerSchema)
    }.start()
  }

  /** Append a stream of (id, vector) rows to a persisted IVF-PQ
    * composite index (`dir/centroids` + `dir/codebooks` +
    * cluster-partitioned `dir/codes`, built by `buildIvfPqIndex`).
    * Frozen-centroid assignment + frozen-codebook residual encode per
    * micro-batch; same codes-ledger idempotence as the PQ twin. */
  def appendIvfPqIndexStream(vecs: DataFrame, dir: String,
                             cIdCol: String = "vec_id",
                             vecCol: String = "embedding",
                             curate: DataFrame => DataFrame = identity)
      : StreamingQuery = {
    require(vecs.isStreaming,
      "appendIvfPqIndexStream: expected a streaming frame")
    val ledgerSchema = newSchemaMemo
    vecs.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      // per-batch generation resolve — see appendPqIndexStream
      val root = Similarity.resolveIndexRoot(batch.sparkSession, dir)
      appendBatch(curate(batch.toDF()), s"$root/codes", "vec_id",
        fresh => Similarity.appendIvfPqIndex(batch.sparkSession, fresh, root,
          cIdCol, vecCol), batchIdCol = cIdCol, ledgerSchema)
    }.start()
  }

  /** STREAMED BITEXT CANDIDATE MINING — the continuous half of the
    * CCMatrix product: new SOURCE sentences arrive as a stream of
    * (id, vector) rows, and each micro-batch's forward kNN candidates
    * (partition-pruned probes of the FROZEN target index,
    * [[graft.llm.Similarity.ivfQueryIndex]]) append to a candidates
    * ledger at `outDir`. Idempotence is the answer-ledger convention
    * ([[searchIvfStream]]): replayed/duplicate source ids anti-join
    * the ledger's own `query_id` column and are never re-probed.
    *
    * The margin/mutual-argmax TAIL deliberately does NOT run per
    * batch: a target's best-margin source may arrive in a later batch,
    * so per-batch mutual argmax would diverge from the batch answer.
    * Forward probes are row-independent over a frozen index — so the
    * accumulated ledger is EXACTLY the one-shot forward kNN table, and
    * [[finalizeBitextLedger]] at the epoch boundary reproduces
    * [[graft.llm.Bitext.mineBitextIndexed]] bit-for-bit (spec-bound).
    * This is the published deployment shape: candidate generation is
    * continuous, corpus-level selection happens at epoch boundaries. */
  def mineBitextStream(src: DataFrame, tgtIndexDir: String, outDir: String,
                       k: Int = 4, nProbe: Int = 4,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       curate: DataFrame => DataFrame = identity)
      : StreamingQuery = {
    require(src.isStreaming, "mineBitextStream: expected a streaming frame")
    val ledgerSchema = newSchemaMemo
    src.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val spark = batch.sparkSession
      val conf = spark.sparkContext.hadoopConfiguration
      val outPath = new org.apache.hadoop.fs.Path(outDir)
      val base = curate(batch.toDF()).where(col(idCol).isNotNull)
        .dropDuplicates(idCol)
      val fresh = (if (outPath.getFileSystem(conf).exists(outPath))
          base.join(ledgerRead(spark, outDir, ledgerSchema)
              .select(col("query_id").as("__graft_mined")).distinct(),
            col(idCol) === col("__graft_mined"), "left_anti")
        else base)
        .localCheckpoint(true) // sever lineage from the ledger dir
      if (!fresh.isEmpty)
        Similarity.ivfQueryIndex(spark, tgtIndexDir, fresh, k, nProbe,
            idCol, vecCol)
          .write.mode("append").parquet(outDir)
    }.start()
  }

  /** Epoch-boundary finalization of a [[mineBitextStream]] candidates
    * ledger: the backward kNN of the target corpus against the frozen
    * SOURCE index plus the accumulated forward ledger feed the shared
    * margin tail ([[graft.llm.Bitext.marginScore]] — two hash
    * aggregations, one candidate join, two id-partitioned windows, all
    * id-only). Equal to one-shot
    * [[graft.llm.Bitext.mineBitextIndexed]] over the union of the
    * streamed batches with the same indexes/params (spec-bound). */
  def finalizeBitextLedger(spark: org.apache.spark.sql.SparkSession,
                           fwdLedgerDir: String, srcIndexDir: String,
                           tgt: DataFrame, k: Int = 4,
                           threshold: Double = 1.3, nProbe: Int = 4,
                           tgtIdCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    val fwd = spark.read.parquet(fwdLedgerDir)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cosine"))
    val bwd = Similarity.ivfQueryIndex(spark, srcIndexDir, tgt, k, nProbe,
      tgtIdCol, vecCol)
    graft.llm.Bitext.marginScore(fwd, bwd, threshold)
  }

  /** STREAMED TRIPLET CANDIDATE MINING — the [[mineBitextStream]]
    * pattern for contrastive-training data: new chunks arrive as a
    * stream of (chunk_id, vector, …) rows and each micro-batch's
    * top-`kCandidates` neighbors from the FROZEN chunk index append to
    * a candidates ledger (idempotent on the ledger's own query_id).
    * The adjacency-positive join and the document-exclusion re-rank
    * run at epoch boundary ([[finalizeTripletsLedger]]) — a chunk's
    * positive (the NEXT chunk of its document) may arrive in a later
    * batch, so per-batch triplet emission would drop cross-batch
    * adjacencies; candidates are row-independent over the frozen
    * index, so finalize ≡ one-shot
    * [[graft.llm.Similarity.mineTripletsIndexed]] (spec-bound). */
  def mineTripletsStream(chunks: DataFrame, indexDir: String,
                         outDir: String, kCandidates: Int = 8,
                         nProbe: Int = 4, idCol: String = "chunk_id",
                         vecCol: String = "embedding",
                         curate: DataFrame => DataFrame = identity)
      : StreamingQuery = {
    require(chunks.isStreaming,
      "mineTripletsStream: expected a streaming frame")
    val ledgerSchema = newSchemaMemo
    chunks.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val spark = batch.sparkSession
      val conf = spark.sparkContext.hadoopConfiguration
      val outPath = new org.apache.hadoop.fs.Path(outDir)
      val base = curate(batch.toDF()).where(col(idCol).isNotNull)
        .dropDuplicates(idCol)
      val fresh = (if (outPath.getFileSystem(conf).exists(outPath))
          base.join(ledgerRead(spark, outDir, ledgerSchema)
              .select(col("query_id").as("__graft_mined")).distinct(),
            col(idCol) === col("__graft_mined"), "left_anti")
        else base)
        .localCheckpoint(true)
      if (!fresh.isEmpty)
        Similarity.ivfQueryIndex(spark, indexDir, fresh, kCandidates,
            nProbe, idCol, vecCol)
          .write.mode("append").parquet(outDir)
    }.start()
  }

  /** Epoch-boundary finalization of a [[mineTripletsStream]] ledger:
    * the accumulated candidates join the (by-now complete) chunk store
    * for adjacency positives and the document-exclusion re-rank —
    * [[graft.llm.Similarity.mineTripletsIndexed]]'s tail verbatim, so
    * the result equals the one-shot mine over the union of the
    * streamed batches (spec-bound). */
  def finalizeTripletsLedger(spark: org.apache.spark.sql.SparkSession,
                             ledgerDir: String, chunks: DataFrame,
                             nNeg: Int = 2, idCol: String = "chunk_id",
                             docCol: String = "doc_id",
                             idxCol: String = "chunk_idx"): DataFrame =
    Similarity.tripletTail(
      spark.read.parquet(ledgerDir)
        .select(col("query_id"), col("neighbor_id"), col("cosine")),
      chunks, nNeg, idCol, docCol, idxCol)

  /** Seed the streamed-pair-ingest store ([[appendPairStream]]) from a
    * batch corpus — the "ledger present before the stream starts"
    * convention for PAIRS: batch-side pair dedup (keep-min per
    * perceptual key), then the configured gates, accepted rows +
    * their `pair_key` written as `dir/accepted`. The accepted table
    * IS the ledger (the index-as-ledger convention): the stream's
    * replay and cross-batch dedup anti-joins read only its
    * (pair_id, pair_key) columns — column-pruned, never the payload. */
  def seedPairStore(pairs: DataFrame, dir: String,
                    minWidth: Int = 8, minHeight: Int = 8,
                    maxAspect: Double = 3.0,
                    langs: Seq[String] = Seq("en"), minWords: Int = 2,
                    minAlign: Double = 0.5, byCaption: Boolean = true,
                    batchSize: Int = 64): Unit = {
    val deduped = graft.multimodal.Pairs.pairDedup(pairs, byCaption,
      batchSize)
    val gated = graft.multimodal.Pairs.pairFilterAll(deduped,
      minWidth, minHeight, maxAspect, langs, minWords, minAlign, batchSize)
    graft.multimodal.Pairs.withPairKey(gated, byCaption, batchSize)
      .write.mode("overwrite").parquet(s"$dir/accepted")
  }

  /** STREAMED PAIR INGEST — the continuous LAION/DataComp crawl shape:
    * each micro-batch of (pair_id, payload, caption, img_emb,
    * txt_emb) rows runs the caller's extra curate stages, then the
    * pair gates ([[graft.multimodal.Pairs.pairFilterAll]] — survivors
    * keep their full rows), then THREE dedup layers before landing in
    * `dir/accepted`:
    *
    *  - replay/id dedup: anti-join against accepted's own `pair_id`
    *    (at-least-once redelivery never re-lands a pair);
    *  - in-batch pair dedup: keep-min per perceptual `pair_key`
    *    (dHash × normalized caption);
    *  - cross-batch pair dedup: anti-join the batch's keys against
    *    accepted's `pair_key` column — a re-crawled copy of an
    *    ACCEPTED image+caption (new URL, new id, same pixels) is
    *    refused, the content-hash-ledger semantics of the text chain
    *    at pair granularity.
    *
    * The accepted table is the only state (index-as-ledger): both
    * anti-joins read two pruned columns of it, never the payload.
    * Greedy online semantics match the batch [[graft.multimodal.Pairs.pairDedup]]
    * when ids arrive monotonically (cross-batch keep-first == global
    * keep-min) — the same documented equivalence as the text chain.
    * Seed with [[seedPairStore]] (or start empty: a missing accepted
    * dir means everything is fresh). Gates run BEFORE dedup's shuffle
    * so rejected pairs never enter an exchange. */
  def appendPairStream(pairs: DataFrame, dir: String,
                       minWidth: Int = 8, minHeight: Int = 8,
                       maxAspect: Double = 3.0,
                       langs: Seq[String] = Seq("en"), minWords: Int = 2,
                       minAlign: Double = 0.5, byCaption: Boolean = true,
                       batchSize: Int = 64,
                       curate: DataFrame => DataFrame = identity)
      : StreamingQuery = {
    require(pairs.isStreaming,
      "appendPairStream: expected a streaming frame")
    val ledgerSchema = newSchemaMemo
    pairs.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val spark = batch.sparkSession
      val conf = spark.sparkContext.hadoopConfiguration
      val accPath = new org.apache.hadoop.fs.Path(s"$dir/accepted")
      val acc: Option[DataFrame] =
        if (accPath.getFileSystem(conf).exists(accPath))
          Some(ledgerRead(spark, s"$dir/accepted", ledgerSchema)) else None
      val cur = curate(batch.toDF()).where(col("pair_id").isNotNull)
        .dropDuplicates("pair_id")
      val unseen = acc match {
        case Some(a) => cur.join(
          a.select(col("pair_id").as("__graft_seen")),
          col("pair_id") === col("__graft_seen"), "left_anti")
        case None => cur
      }
      val gated = graft.multimodal.Pairs.pairFilterAll(unseen,
        minWidth, minHeight, maxAspect, langs, minWords, minAlign,
        batchSize)
      val keyed = graft.multimodal.Pairs.withPairKey(gated, byCaption,
        batchSize)
      val w = Window.partitionBy(col("pair_key"))
      val inBatch = keyed
        .withColumn("__keep", min(col("pair_id")).over(w))
        .where(col("pair_id") === col("__keep")).drop("__keep")
      val fresh = (acc match {
        case Some(a) => inBatch.join(
          a.select(col("pair_key").as("__graft_key")).distinct(),
          col("pair_key") === col("__graft_key"), "left_anti")
        case None => inBatch
      }).localCheckpoint(true)
      if (!fresh.isEmpty)
        fresh.write.mode("append").parquet(s"$dir/accepted")
    }.start()
  }

  /** SERVE a stream of query vectors against a persisted IVF index —
    * the READ side of continuous vector-store operation (the append
    * twins above are the write side): per micro-batch, the index's own
    * partition-pruned two-level probe runs over JUST the batch's
    * queries (per-batch cost tracks the batch, never the index) and
    * the top-k answers land in `outDir` as
    * (query_id, rank, neighbor_id, cosine) — a result ledger
    * downstream consumers read like any other table.
    *
    * Idempotence mirrors the ingest convention, with the RESULT ledger
    * as the state: an at-least-once replay (re-read file, redelivered
    * batch) anti-joins `outDir`'s own `query_id` column and drops
    * already-answered queries, so each query id is answered exactly
    * once; null-id and in-batch duplicate queries are dropped up front
    * for the same reason the appenders drop them. The first batch
    * finds no ledger and answers everything.
    *
    * The index is re-read per micro-batch BY DESIGN: a concurrent
    * [[appendIvfIndexStream]] grows `dir/assignments` between batches,
    * and serving picks the additions up on the next batch — the
    * freshness semantics a combined ingest+serve deployment wants.
    * Returns the started query; callers own its lifecycle. */
  def searchIvfStream(queries: DataFrame, dir: String, outDir: String,
                      k: Int = 5, nProbe: Int = 2,
                      qIdCol: String = "vec_id",
                      vecCol: String = "embedding",
                      curate: DataFrame => DataFrame = identity)
      : StreamingQuery = {
    require(queries.isStreaming,
      "searchIvfStream: expected a streaming frame")
    val ledgerSchema = newSchemaMemo
    queries.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val spark = batch.sparkSession
      val conf = spark.sparkContext.hadoopConfiguration
      val outPath = new org.apache.hadoop.fs.Path(outDir)
      val base = curate(batch.toDF()).where(col(qIdCol).isNotNull)
        .dropDuplicates(qIdCol)
      val fresh = (if (outPath.getFileSystem(conf).exists(outPath))
          base.join(ledgerRead(spark, outDir, ledgerSchema)
              .select(col("query_id").as("__graft_answered")).distinct(),
            col(qIdCol) === col("__graft_answered"), "left_anti")
        else base)
        // sever lineage before writing into the directory the
        // answered-probe reads (the ingest-ledger convention)
        .localCheckpoint(true)
      if (!fresh.isEmpty)
        Similarity.ivfQueryIndex(spark, dir, fresh, k, nProbe,
            qIdCol, vecCol)
          .write.mode("append").parquet(outDir)
    }.start()
  }

  /** SERVE a stream of text queries against a persisted BM25 postings
    * index ([[graft.llm.Search.buildPostings]]) — the lexical twin of
    * [[searchIvfStream]], same contract: per micro-batch the battery
    * joins the term-pruned postings read (per-batch cost tracks the
    * batch's term set, never the corpus — zero corpus aggregations),
    * and (qid, rank, doc id, matched_terms, sum_tf, dl) answers land
    * in `outDir` as a result ledger. Answer-exactly-once by the
    * ledger's own `qid` column: redelivered/duplicate query ids
    * anti-join out; null-id and in-batch duplicates drop up front.
    * The accumulated ledger over any batch split EQUALS the one-shot
    * [[graft.llm.Search.bm25ServeJoinTopK]] of the union — per-query
    * answers are row-independent over a frozen index (spec-bound).
    * Returns the started query; callers own its lifecycle. */
  def bm25SearchStream(queries: DataFrame, dir: String, outDir: String,
                       k: Int = 5, qIdCol: String = "qid",
                       qTextCol: String = "text",
                       curate: DataFrame => DataFrame = identity)
      : StreamingQuery = {
    require(queries.isStreaming,
      "bm25SearchStream: expected a streaming frame")
    val ledgerSchema = newSchemaMemo
    queries.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val spark = batch.sparkSession
      val conf = spark.sparkContext.hadoopConfiguration
      val outPath = new org.apache.hadoop.fs.Path(outDir)
      val base = curate(batch.toDF()).where(col(qIdCol).isNotNull)
        .dropDuplicates(qIdCol)
      val fresh = (if (outPath.getFileSystem(conf).exists(outPath))
          base.join(ledgerRead(spark, outDir, ledgerSchema)
              .select(col("qid").as("__graft_answered")).distinct(),
            col(qIdCol) === col("__graft_answered"), "left_anti")
        else base)
        .localCheckpoint(true) // sever lineage from the answer ledger
      if (!fresh.isEmpty)
        graft.llm.Search.bm25ServeJoinTopK(spark, dir, fresh, k,
            qIdCol, qTextCol)
          .write.mode("append").parquet(outDir)
    }.start()
  }

  /** SERVE a stream of TWO-REPRESENTATION queries against BOTH
    * persisted indexes — continuous hybrid contamination triage, the
    * streamed twin of [[graft.llm.Search.hybridRetrieveIndexed]]: per
    * micro-batch the battery answers from the BM25 postings directory
    * (term-pruned read + one broadcast join) and the vector index of
    * the caller's `family` — IVF (partition-pruned probe + exact
    * re-rank) or IVF-PQ (the compressed residual-code layout; exact
    * re-rank joins the embeddings at `rerankPath`) — fused by
    * reciprocal rank; the fused (qid, rank, doc id, signals, best_rank) rows
    * land in `outDir` as a result ledger. Same answer-exactly-once
    * contract as [[bm25SearchStream]]: redelivered/duplicate query
    * ids anti-join out against the ledger's own qid column; null-id
    * and in-batch duplicates drop up front. Over frozen indexes the
    * per-query fusion is row-independent, so the accumulated ledger
    * over any batch split EQUALS the one-shot indexed fusion of the
    * union (oracle-bound). */
  def hybridSearchStream(queries: DataFrame, bm25Dir: String,
                         annDir: String, outDir: String, k: Int = 5,
                         kPerSignal: Int = 10, k0: Int = 60,
                         nProbe: Int = 4, qIdCol: String = "qid",
                         qTextCol: String = "text",
                         qVecCol: String = "embedding",
                         curate: DataFrame => DataFrame = identity,
                         family: String = "ivf",
                         rerankPath: Option[String] = None,
                         shortlist: Int = 50,
                         cIdCol: String = "vec_id",
                         cVecCol: String = "embedding")
      : StreamingQuery = {
    require(queries.isStreaming,
      "hybridSearchStream: expected a streaming frame")
    val ledgerSchema = newSchemaMemo
    queries.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val spark = batch.sparkSession
      val conf = spark.sparkContext.hadoopConfiguration
      val outPath = new org.apache.hadoop.fs.Path(outDir)
      val base = curate(batch.toDF()).where(col(qIdCol).isNotNull)
        .dropDuplicates(qIdCol)
      val fresh = (if (outPath.getFileSystem(conf).exists(outPath))
          base.join(ledgerRead(spark, outDir, ledgerSchema)
              .select(col("qid").as("__graft_answered")).distinct(),
            col(qIdCol) === col("__graft_answered"), "left_anti")
        else base)
        .localCheckpoint(true) // sever lineage from the answer ledger
      if (!fresh.isEmpty)
        graft.llm.Search.hybridRetrieveIndexed(spark, bm25Dir, annDir,
            fresh, k, kPerSignal, k0, nProbe, qIdCol, qTextCol, qVecCol,
            family = family,
            rerank = rerankPath.map(spark.read.parquet(_)),
            shortlist = shortlist, cIdCol = cIdCol, cVecCol = cVecCol)
          .write.mode("append").parquet(outDir)
    }.start()
  }

  /** Continuous PACKING — the streaming twin of
    * [[graft.llm.Packing.packSequencesAppend]], completing the
    * continuous trainer-format chain (crawl ingest → curation stages →
    * THIS): each micro-batch of documents continues the global token
    * stream where the persisted assignment stopped, extending offsets
    * and pack ids without re-packing the corpus (the last partial pack
    * keeps filling — floor(offset/budget) is a pure function of the
    * global offset). Same ledger idempotence as the index twins: ids
    * already assigned (crawl replays, at-least-once redelivery) drop
    * via an anti-join against the assignment's OWN id column before
    * the append, so the only state is the assignment on disk. The
    * batch-side append ≡ repack-of-union contract (monotone ids,
    * guarded loudly by `minBatchIdExclusive`) carries over verbatim —
    * spec-bound: streamed assignment == one-shot `packSequences` over
    * the union of all batches.
    *
    * `dir` must hold an existing assignment (seed with an empty or
    * initial [[graft.llm.Packing.packSequences]] write — the
    * crawl-ingest "ledger present before the stream starts"
    * convention). */
  def appendPackStream(docs: DataFrame, dir: String,
                       idCol: String, textCol: String,
                       budget: Long): StreamingQuery = {
    require(docs.isStreaming, "appendPackStream: expected a streaming frame")
    val ledgerSchema = newSchemaMemo
    docs.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val spark = batch.sparkSession
      val existing = ledgerRead(spark, dir, ledgerSchema)
      val assigned = existing.select(col("doc_id").as("__graft_assigned"))
      // same null-id guard as appendBatch: a null id never matches the
      // assignment ledger through `===` and would re-pack every replay
      val fresh = batch.where(col(idCol).isNotNull)
        .dropDuplicates(idCol)
        .join(assigned, col(idCol) === col("__graft_assigned"), "left_anti")
        .localCheckpoint(true)
      if (!fresh.isEmpty) {
        // carried offset + monotone-id guard bound in ONE ledger scan.
        // The guard semantics are unchanged: INTEGRAL id columns get
        // the loud min>max-assigned check (cast is lossless for
        // Byte/Short/Int/Long); non-integral ids get NO bound — the
        // batch API would reject one, and silently null-casting the max
        // here would fake a guard that never fires. Idempotence never
        // depends on the guard (the ledger anti-join handles replays);
        // the guard only protects append ≡ repack-of-union ordering.
        val (startOffset, bound) = assignOffsetAndBound(existing)
        val nToks = size(filter(
          split(trim(coalesce(col(textCol), lit(""))), "\\s+"),
          w => w =!= "")).cast("long")
        graft.llm.Packing.packSequencesAppend(fresh, idCol, nToks,
            budget, startOffset, minBatchIdExclusive = bound)
          .localCheckpoint(true) // sever lineage from the dir we append to
          .write.mode("append").parquet(dir)
      }
    }.start()
  }

  /** Shared token-count expression of the pack-stream family (null
    * text = zero tokens). */
  private def wsTokens(textCol: String) =
    size(filter(split(trim(coalesce(col(textCol), lit(""))), "\\s+"),
      w => w =!= "")).cast("long")

  /** Seed the [[appendCuratedPackStream]] ledger set from a BATCH
    * corpus — the "ledger present before the stream starts"
    * convention, extended to curation state. Runs the same curation
    * the stream will run (curate stages → in-batch exact dedup →
    * optional in-batch MinHash near-dedup with min-id survivors),
    * packs the survivors one-shot, and writes all ledgers:
    * `dir/assign` (pack assignment), `dir/hashes` (distinct content
    * hashes — [[graft.llm.Dedup.contentHashes]]), and, when
    * `nearDupThreshold` is set, `dir/sigs` (MinHash signature +
    * shingle rows — [[graft.llm.Dedup.minhashLedgerRows]]). Use the
    * SAME options on the stream side; k and the shingle width are
    * part of the persisted format. */
  def seedCuratedPack(docs: DataFrame, dir: String,
                      idCol: String, textCol: String, budget: Long,
                      curate: DataFrame => DataFrame = identity,
                      nearDupThreshold: Option[Double] = None,
                      k: Int = 64, bands: Int = 16,
                      maxBucket: Int = 1000): Unit = {
    // a re-seed resets the ledger SET — stale retraction queues from a
    // previous corpus must not leak into the fresh one
    val conf = docs.sparkSession.sessionState.newHadoopConf()
    Seq("retracted", "retracted_applied").foreach { sub =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val cur = curate(docs).where(col(idCol).isNotNull)
      .dropDuplicates(idCol)
    val exact = graft.llm.Dedup.exactDedup(cur, idCol, textCol)
    val survivors = (nearDupThreshold match {
      case None => exact
      case Some(t) =>
        val input = exact.localCheckpoint(true)
        val losers = graft.llm.Dedup.nearDupClusters(
            graft.llm.Dedup.minhashNearDups(input, idCol, textCol, t, k,
              bands, maxBucket))
          .where(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id").as("__graft_loser"))
        input.join(losers, col(idCol) === col("__graft_loser"), "left_anti")
    }).localCheckpoint(true)
    // the three ledger writes read only the CHECKPOINTED survivor frame
    // and land in disjoint directories — overlap them (guide §2.6)
    inParallel(
      Seq(
        () => graft.llm.Packing.packSequences(survivors, idCol,
            wsTokens(textCol), budget)
          .write.mode("overwrite").parquet(s"$dir/assign"),
        () => graft.llm.Dedup.contentHashes(survivors, textCol)
          .write.mode("overwrite").parquet(s"$dir/hashes")) ++
      (if (nearDupThreshold.isDefined) Seq(
        () => graft.llm.Dedup.minhashLedgerRows(survivors
            .select(col(idCol).as("doc_id"), col(textCol)),
            "doc_id", textCol, k)
          .write.mode("overwrite").parquet(s"$dir/sigs"))
       else Seq.empty): _*)
  }

  /** STREAMED CURATION + PACKING — the continuous twin of the batch
    * curation funnel's tail, closing the round-11 gap where the
    * streamed chain packed RAW docs: each micro-batch runs the
    * caller's map-only curation stages (`curate` — html_extract /
    * url_filter / lang_filter / quality_filter / scrub_pii compose
    * into streams unchanged; build it from the same config-registry
    * kinds the batch funnel resolves), then INCREMENTAL dedup against
    * the persisted ledgers before the pack append:
    *
    *  - replay/id dedup: anti-join against `dir/assign`'s own id
    *    column (the [[appendPackStream]] idempotence contract);
    *  - exact content dedup: [[graft.llm.Dedup.exactDedupAgainstHashes]]
    *    against `dir/hashes` + keep-first within the batch — a
    *    re-crawled page whose text already shipped never re-packs;
    *  - near-dedup (opt-in via `nearDupThreshold`): in-batch MinHash
    *    clusters keep their min-id survivor, then
    *    [[graft.llm.Dedup.minhashNearDupsAgainstLedger]] drops batch
    *    docs near-duplicating ANY accepted doc — the corpus side is
    *    the persisted `dir/sigs` signature ledger, so the accepted
    *    corpus text is never rescanned.
    *
    * Survivors extend the assignment exactly as [[appendPackStream]]
    * does (carried offset, monotone-id guard) and append their OWN
    * hash/signature rows, so every ledger stays the accepted-corpus
    * state without a corpus rescan — per-batch cost tracks the batch
    * and the (id/hash/signature) ledger columns, never the corpus
    * payload.
    *
    * Equivalence to the one-shot funnel (spec-bound in StreamingSpec):
    * with monotone ids, cross-batch keep-first IS global keep-min for
    * exact dedup, and near-dup CLIQUES (every member near-dups the
    * canonical survivor — the planted-twin and boilerplate shapes)
    * resolve identically. The one DOCUMENTED divergence: a transitive
    * near-dup CHAIN whose linking middle doc was itself dropped in an
    * earlier batch keeps the far end (the ledger only holds accepted
    * docs) — inherent to ONLINE near-dedup, same greedy semantics as
    * published incremental pipelines; a periodic batch re-dedup
    * re-canonicalizes.
    *
    * Seed `dir` with [[seedCuratedPack]] (same options) before
    * starting. */
  def appendCuratedPackStream(docs: DataFrame, dir: String,
                              idCol: String, textCol: String, budget: Long,
                              curate: DataFrame => DataFrame = identity,
                              nearDupThreshold: Option[Double] = None,
                              k: Int = 64, bands: Int = 16,
                              maxBucket: Int = 1000): StreamingQuery = {
    require(docs.isStreaming,
      "appendCuratedPackStream: expected a streaming frame")
    val assignSchema = newSchemaMemo
    val hashesSchema = newSchemaMemo
    val sigsSchema = newSchemaMemo
    docs.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      val spark = batch.sparkSession
      val existing = ledgerRead(spark, s"$dir/assign", assignSchema)
      val assigned = existing.select(col("doc_id").as("__graft_assigned"))
      val cur = curate(batch).where(col(idCol).isNotNull)
        .dropDuplicates(idCol)
        .join(assigned, col(idCol) === col("__graft_assigned"), "left_anti")
      val exact = graft.llm.Dedup.exactDedupAgainstHashes(cur,
        ledgerRead(spark, s"$dir/hashes", hashesSchema), idCol, textCol)
      val fresh = (nearDupThreshold match {
        case None => exact
        case Some(t) =>
          val input = exact.localCheckpoint(true)
          val inLosers = graft.llm.Dedup.nearDupClusters(
              graft.llm.Dedup.minhashNearDups(input, idCol, textCol, t, k,
                bands, maxBucket))
            .where(col("doc_id") =!= col("cluster_id"))
            .select(col("doc_id").as("__graft_loser"))
          val inKept = input.join(inLosers,
            col(idCol) === col("__graft_loser"), "left_anti")
          val vsLosers = graft.llm.Dedup.minhashNearDupsAgainstLedger(
              inKept, ledgerRead(spark, s"$dir/sigs", sigsSchema), idCol,
              textCol, t, k, bands, maxBucket)
            .select(col("new_id").as("__graft_loser")).distinct()
          inKept.join(vsLosers, col(idCol) === col("__graft_loser"),
            "left_anti")
      }).localCheckpoint(true) // sever lineage from all three ledger dirs
      if (!fresh.isEmpty) {
        // carried offset + monotone-id guard bound in ONE ledger scan
        // (the appendPackStream contract, semantics unchanged)
        val (startOffset, bound) = assignOffsetAndBound(existing)
        // the three ledger appends read only the CHECKPOINTED survivor
        // frame and land in disjoint directories — overlap them (§2.6)
        // instead of serializing three tiny write jobs per micro-batch
        inParallel(
          Seq(
            () => graft.llm.Packing.packSequencesAppend(fresh, idCol,
                wsTokens(textCol), budget, startOffset,
                minBatchIdExclusive = bound)
              .localCheckpoint(true)
              .write.mode("append").parquet(s"$dir/assign"),
            () => graft.llm.Dedup.contentHashes(fresh, textCol)
              .write.mode("append").parquet(s"$dir/hashes")) ++
          (if (nearDupThreshold.isDefined) Seq(
            () => graft.llm.Dedup.minhashLedgerRows(fresh
                .select(col(idCol).as("doc_id"), col(textCol)),
                "doc_id", textCol, k)
              .write.mode("append").parquet(s"$dir/sigs"))
           else Seq.empty): _*)
      }
    }.start()
  }

  /** The shared per-micro-batch step: in-batch keep-first on the id,
    * anti-join against the index's id column, append only the
    * survivors. `ledgerIdCol` is the id's name INSIDE the index layout
    * (PQ codes store `vec_id`; IVF assignments store `neighbor_id`). */
  private def appendBatch(batch: Dataset[Row], ledgerPath: String,
                          ledgerIdCol: String,
                          append: DataFrame => Unit,
                          batchIdCol: String = "vec_id",
                          ledgerSchema: SchemaMemo = newSchemaMemo): Unit = {
    val spark = batch.sparkSession
    val indexed = ledgerRead(spark, ledgerPath, ledgerSchema)
      .select(col(ledgerIdCol).as("__graft_indexed"))
    // null ids can never match the ledger through `===`, so a null-id
    // row would be re-appended on EVERY micro-batch replay — silently
    // breaking the documented effective-exactly-once-on-ids contract.
    // Drop them up front; an id-less vector has no idempotence key.
    val fresh = batch.where(col(batchIdCol).isNotNull)
      .dropDuplicates(batchIdCol)
      .join(indexed, col(batchIdCol) === col("__graft_indexed"), "left_anti")
      // sever lineage before the append writes into the same
      // directory the ledger scan reads (the crawl-ingest convention)
      .localCheckpoint(true)
    if (!fresh.isEmpty) append(fresh)
  }

  /** Epoch-boundary LEDGER COMPACTION — the steady-state maintenance
    * op every append-per-micro-batch layout needs: after 10k batches
    * each ledger dir holds 10k+ tiny parquet files, and every
    * per-batch anti-join/scan pays the open-file storm (at 100 TB the
    * listing alone dominates). Rewrites each present ledger subdir
    * into ceil(bytes / targetBytes) files — content-identical (the
    * consumers are row-order-insensitive: anti-joins, hash probes,
    * banded sig joins), just fewer, larger files; the Delta-OPTIMIZE
    * bin-packing shape without the table format.
    *
    * Cost: one shuffle of the LEDGER columns only (ids, hashes,
    * signatures — never the corpus payload), so compaction tracks
    * accepted-corpus metadata size, not corpus size.
    *
    * NOT concurrency-safe with an in-flight append: run it where
    * shard materialization already runs — at an epoch boundary with
    * the stream stopped (the temp-dir + delete + rename swap keeps
    * the window to the rename, but a concurrent micro-batch could
    * still read the dir mid-swap). Returns per-subdir
    * (files_before, files_after) for the dirs that existed. */
  def compactLedgers(spark: org.apache.spark.sql.SparkSession, dir: String,
                     subdirs: Seq[String] = Seq("assign", "hashes", "sigs"),
                     targetBytes: Long = 128L << 20): Map[String, (Int, Int)] = {
    // independent per-directory rewrites — overlap them (§2.6)
    val slots = new Array[Option[(Int, Int)]](subdirs.size)
    inParallel(subdirs.zipWithIndex.map { case (sub, i) =>
      () => slots(i) = compactDir(spark, s"$dir/$sub", targetBytes)
    }: _*)
    subdirs.zip(slots).collect { case (sub, Some(r)) => sub -> r }.toMap
  }

  /** Compact one parquet directory to ceil(bytes / targetBytes) files.
    * Absent dir → None (nothing to do). Also fit for the ANN index
    * ledgers (`codes/`, `assignments/`) between streamed appends. */
  def compactDir(spark: org.apache.spark.sql.SparkSession, path: String,
                 targetBytes: Long = 128L << 20): Option[(Int, Int)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      def partFiles() = fs.listStatus(p)
        .filter(_.getPath.getName.startsWith("part-"))
      val before = partFiles()
      val n = math.max(1,
        math.ceil(before.map(_.getLen).sum.toDouble / targetBytes).toInt)
      val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
      // the write consumes the source files BEFORE the swap deletes them
      spark.read.parquet(path).repartition(n)
        .write.mode("overwrite").parquet(tmp.toString)
      fs.delete(p, true)
      if (!fs.rename(tmp, p))
        throw new IllegalStateException(
          s"ledger compaction: rename $tmp -> $p failed; ledger left at $tmp")
      Some((before.length, partFiles().length))
    }
  }

  /** RETRACTION / TAKEDOWN — remove documents from the curated-pack
    * ledger set ([[seedCuratedPack]] layout) WITHOUT replaying the
    * curation chain: the opt-out / license-revocation / legal-takedown
    * op every production training corpus eventually needs, sized to
    * the takedown list and the ledger metadata, never the corpus.
    *
    * Semantics (the takedown intent, not mere deletion):
    *  - the docs leave the ASSIGNMENT, so no future
    *    [[graft.llm.Packing.materializeShardsFromAssignment]] ships
    *    their tokens;
    *  - by default their content-hash and MinHash-signature rows STAY
    *    as tombstones — a re-crawled byte-identical copy (hash ledger)
    *    or near-copy (sig ledger) of retracted content is REFUSED
    *    re-admission by the unchanged stream dedup path. Pass
    *    `forgetDocs` (the doc store, same `idCol`; text under
    *    `forgetTextCol`) to erase those rows too ("retract and
    *    forget" — the content may legitimately return later). The
    *    hash ledger stores no ids, so forgetting needs the retracted
    *    docs' text to recompute which hashes to drop; the sig ledger
    *    forgets by id.
    *
    * Offset modes:
    *  - scrub (default): surviving assignment rows keep their
    *    token_offset/pack_id — holes where the retracted tokens were,
    *    so affected packs get lighter and fully-retracted packs
    *    disappear, but nothing else moves and the stream's carried
    *    offset stays valid. O(ledger) rewrite.
    *  - `repack = true` (requires `budget`): re-run the two-phase
    *    prefix sum over the surviving membership in id order — the
    *    assignment becomes byte-identical to one where the retracted
    *    docs were NEVER ingested (monotone-id append ≡ one-shot pack,
    *    the [[appendPackStream]] contract), at the cost of shifting
    *    every downstream doc's pack.
    *
    * Not concurrency-safe with an in-flight append — run at an epoch
    * boundary with the stream stopped, like [[compactLedgers]] (same
    * temp-dir + delete + rename swap per ledger).
    *
    * The retracted assignment rows are queued (mode- and tag-tagged)
    * under `dir/retracted` — the takedown audit trail, and the input
    * [[graft.llm.Packing.refreshRetractedShards]] drains to rewrite
    * only the AFFECTED shard partitions instead of re-materializing
    * the corpus. `tag` is a caller-supplied audit label (ticket id,
    * opt-out batch name) carried on every queued row; it defaults to
    * empty, NOT a timestamp — the ops are deterministic functions of
    * their inputs, and provenance metadata is the caller's to mint.
    *
    * One documented semantics note: retracting a doc that was the
    * KEEP-MIN SURVIVOR of a dedup class does not resurrect the copies
    * it suppressed — they were dropped at ingest and never packed
    * (dedup is lossy by design, same as published pipelines). After a
    * `forgetDocs` retraction a re-crawl of that content re-admits it
    * under the new id.
    *
    * @return one row per rewritten ledger:
    *         (ledger, rows_before, rows_removed, rows_after)
    */
  def retractFromCuratedPack(spark: org.apache.spark.sql.SparkSession,
                             dir: String, retractIds: DataFrame,
                             idCol: String, repack: Boolean = false,
                             budget: Long = 0L,
                             forgetDocs: Option[DataFrame] = None,
                             forgetTextCol: String = "text",
                             tag: String = ""): DataFrame = {
    require(!repack || budget > 0,
      "retractFromCuratedPack: repack re-runs the prefix sum and needs " +
        s"the pack budget (got $budget)")
    val assign = spark.read.parquet(s"$dir/assign")
    val idType = assign.schema("doc_id").dataType
    // sever lineage first: the retraction list may itself derive from
    // the ledgers this op rewrites (retractContaminated reads assign)
    val rids = retractIds.where(col(idCol).isNotNull)
      .select(col(idCol).cast(idType).as("__graft_retract")).distinct()
      .localCheckpoint(true)
    val report = collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]

    def rewrite(sub: String, df: DataFrame, kept: DataFrame): (String, Long, Long, Long) = {
      // the before-count and the kept materialization are independent
      // jobs over the same checkpointed inputs — overlap them (§2.6).
      // The checkpoint is the critical path (the swap waits on it), so
      // it is submitted FIRST — FIFO scheduling then prioritizes it
      // and the audit count back-fills.
      var before = 0L
      var keptCp: DataFrame = null
      inParallel(
        () => keptCp = kept.localCheckpoint(true),
        () => before = df.count())
      val after = keptCp.count()
      swapDir(spark, s"$dir/$sub", keptCp)
      (sub, before, before - after, after)
    }

    // queue the retracted assignment rows under dir/retracted BEFORE
    // the swap: the takedown audit trail, and the input
    // Packing.refreshRetractedShards drains to rewrite only the
    // affected shard partitions (scrub mode; refresh rejects repack
    // rows — repack shifts every downstream pack)
    val retractedRows = assign.join(rids,
        col("doc_id") === col("__graft_retract"), "left_semi")
      .withColumn("mode", lit(if (repack) "repack" else "scrub"))
      .withColumn("tag", lit(tag))
      .localCheckpoint(true)
    if (!retractedRows.isEmpty)
      retractedRows.write.mode("append").parquet(s"$dir/retracted")
    // the three ledger rewrites touch disjoint directories and read
    // only checkpointed inputs (rids) — after the audit queue above
    // has landed (crash contract: queue happens-before any swap), run
    // them concurrently (§2.6) and report in the original fixed order
    val assignSlot = new Array[(String, Long, Long, Long)](1)
    val hashSlot = new Array[(String, Long, Long, Long)](1)
    val sigSlot = new Array[(String, Long, Long, Long)](1)
    val hconf = spark.sessionState.newHadoopConf()
    val stages = collection.mutable.ArrayBuffer[() => Unit](
      () => assignSlot(0) = rewrite("assign", assign, {
        val kept = assign.join(rids,
          col("doc_id") === col("__graft_retract"), "left_anti")
        if (repack)
          graft.llm.Packing.packSequences(kept, "doc_id", col("n_tokens"),
            budget)
        else kept
      }))
    forgetDocs.foreach { store =>
      val retractedDocs = store.join(rids,
        col(idCol) === col("__graft_retract"), "left_semi")
      val hp = new org.apache.hadoop.fs.Path(s"$dir/hashes")
      if (hp.getFileSystem(hconf).exists(hp)) {
        val hashes = spark.read.parquet(s"$dir/hashes")
        val dead = graft.llm.Dedup.contentHashes(retractedDocs, forgetTextCol)
          .select(col("content_hash").as("__dead")).distinct()
        stages += (() => hashSlot(0) = rewrite("hashes", hashes,
          hashes.join(dead, col("content_hash") === col("__dead"),
            "left_anti")))
      }
      val sp = new org.apache.hadoop.fs.Path(s"$dir/sigs")
      if (sp.getFileSystem(hconf).exists(sp)) {
        val sigs = spark.read.parquet(s"$dir/sigs")
        stages += (() => sigSlot(0) = rewrite("sigs", sigs,
          sigs.join(rids, col("doc_id") === col("__graft_retract"),
            "left_anti")))
      }
    }
    inParallel(stages.toSeq: _*)
    report ++= Seq(assignSlot(0), hashSlot(0), sigSlot(0)).filter(_ != null)
    spark.createDataFrame(report.toSeq)
      .toDF("ledger", "rows_before", "rows_removed", "rows_after")
  }

  /** UN-RETRACTION — takedown reversal (disputes resolve, opt-outs are
    * withdrawn, a benchmark rotates out of the eval set): restore
    * previously scrub-retracted docs to the curated-pack ledgers
    * WITHOUT any recompute. Scrub mode preserved every survivor's
    * offsets AND recorded the retracted rows verbatim in the
    * `retracted` / `retracted_applied` ledgers, so restoration is a
    * row move: the matched rows append back into the assignment with
    * their ORIGINAL token_offset/pack_id (the assignment returns to
    * its exact pre-takedown state), and the same rows re-enter the
    * `retracted` queue as touched-pack markers so the next
    * [[graft.llm.Packing.refreshRetractedShards]] rebuilds exactly the
    * affected shards. Repack-mode rows cannot be restored (their
    * offsets are gone) and fail loudly.
    *
    * Pass `forgetDocs` (the doc store) iff the retraction used it:
    * the erased hash/sig tombstone rows are recomputed from the store
    * and re-appended (hashes by content anti-join, sigs by id), so
    * stream dedup again refuses copies of the restored content.
    * `retracted_applied` is an append-only audit log — restoration
    * does not rewrite history; the refresh that follows re-records
    * the touched packs there.
    *
    * @return one row per extended ledger:
    *         (ledger, rows_restored) */
  def unretractFromCuratedPack(spark: org.apache.spark.sql.SparkSession,
                               dir: String, restoreIds: DataFrame,
                               idCol: String,
                               forgetDocs: Option[DataFrame] = None,
                               forgetTextCol: String = "text",
                               k: Int = 64,
                               tag: String = ""): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    def existing(sub: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (p.getFileSystem(conf).exists(p))
        Some(spark.read.parquet(s"$dir/$sub")) else None
    }
    val history = (existing("retracted").toSeq ++
        existing("retracted_applied").toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(throw new IllegalArgumentException(
        s"unretractFromCuratedPack: $dir has no retraction history"))
    val rids = restoreIds.where(col(idCol).isNotNull)
      .select(col(idCol).as("__graft_restore")).distinct()
      .localCheckpoint(true)
    val matched = history.join(rids,
        col("doc_id") === col("__graft_restore"), "left_semi")
      // the same doc can appear in both ledgers (queued + applied) —
      // one assignment row per doc, and the ledgers never disagree on
      // it (scrub rows are verbatim assignment rows)
      .dropDuplicates("doc_id")
      .localCheckpoint(true)
    val badModes = matched.where(col("mode") =!= "scrub")
      .select(col("doc_id")).limit(5).collect().map(_.get(0))
    require(badModes.isEmpty,
      s"unretractFromCuratedPack: docs ${badModes.mkString(",")} were " +
        "retracted in repack mode — their offsets are gone; re-ingest " +
        "instead")
    val assign = spark.read.parquet(s"$dir/assign")
    val toRestore = matched.drop("mode", "tag")
      .join(assign.select(col("doc_id").as("__graft_present")),
        col("doc_id") === col("__graft_present"), "left_anti")
      .localCheckpoint(true) // severed before the appends below
    val report = collection.mutable.ArrayBuffer.empty[(String, Long)]
    val n = toRestore.count()
    if (n > 0) {
      // the assignment restore and the touched-pack re-queue are
      // independent appends of the same CHECKPOINTED frame into
      // disjoint directories — overlap them (§2.6)
      inParallel(
        () => toRestore.write.mode("append").parquet(s"$dir/assign"),
        // re-queue as touched-pack markers for the incremental refresh
        () => toRestore.withColumn("mode", lit("scrub"))
          .withColumn("tag", lit(tag))
          .write.mode("append").parquet(s"$dir/retracted"))
    }
    report += (("assign", n))
    forgetDocs.foreach { store =>
      val restoredDocs = store.join(
          toRestore.select(col("doc_id").as("__graft_restore")),
          col(idCol) === col("__graft_restore"), "left_semi")
      // the two tombstone re-appends are independent (disjoint dirs,
      // both read the checkpointed restore set) — overlap them (§2.6),
      // reporting in the original fixed order
      val hSlot = new Array[Long](1); hSlot(0) = -1L
      val sSlot = new Array[Long](1); sSlot(0) = -1L
      val stages = collection.mutable.ArrayBuffer.empty[() => Unit]
      existing("hashes").foreach { hashes =>
        stages += (() => {
          val fresh = graft.llm.Dedup.contentHashes(restoredDocs, forgetTextCol)
            .join(hashes.select(col("content_hash").as("__h")).distinct(),
              col("content_hash") === col("__h"), "left_anti")
            .select(col("content_hash")).localCheckpoint(true)
          val hn = fresh.count()
          if (hn > 0) fresh.write.mode("append").parquet(s"$dir/hashes")
          hSlot(0) = hn
        })
      }
      existing("sigs").foreach { sigs =>
        stages += (() => {
          val fresh = graft.llm.Dedup.minhashLedgerRows(
              restoredDocs.select(col(idCol).as("doc_id"),
                col(forgetTextCol)), "doc_id", forgetTextCol, k)
            .join(sigs.select(col("doc_id").as("__graft_sig")).distinct(),
              col("doc_id") === col("__graft_sig"), "left_anti")
            .localCheckpoint(true)
          val sn = fresh.count()
          if (sn > 0) fresh.write.mode("append").parquet(s"$dir/sigs")
          sSlot(0) = sn
        })
      }
      inParallel(stages.toSeq: _*)
      if (hSlot(0) >= 0) report += (("hashes", hSlot(0)))
      if (sSlot(0) >= 0) report += (("sigs", sSlot(0)))
    }
    spark.createDataFrame(report.toSeq).toDF("ledger", "rows_restored")
  }

  /** TAKEDOWN COMPLIANCE REPORT — the read-only proof a legal/opt-out
    * review asks for, against the CURRENT opt-out registry (not the
    * internal queue history: un-retraction legitimately restores docs
    * and re-queues touched-pack markers, so queue rows alone cannot
    * define compliance). One row per aspect:
    *
    *  - `assigned_optout` — opt-out ids still present in the pack
    *    assignment. Any count > 0 is a VIOLATION (`ok = false`).
    *  - `pending_refresh` — queued retracted rows not yet drained by
    *    [[graft.llm.Packing.refreshRetractedShards]]: the ledgers are
    *    clean but materialized shards may still carry the bytes.
    *    `ok = false` until the queue drains.
    *  - `applied_history` — drained retraction rows (the audit
    *    trail); informational, always `ok`.
    *
    * Hash/sig tombstones are deliberately NOT counted as violations:
    * takedown keeps them so re-crawled copies drop
    * ([[retractFromCuratedPack]] — `forgetDocs` is the opt-out from
    * that default).
    *
    * Scale shape: one broadcast semi-join of the (thousands-of-rows)
    * opt-out list against the id-only assignment scan, two metadata
    * counts. Safe to run while the stream is live. */
  def retractionCompliance(spark: org.apache.spark.sql.SparkSession,
                           dir: String, optOut: DataFrame,
                           idCol: String): DataFrame = {
    val assign = spark.read.parquet(s"$dir/assign")
    val idType = assign.schema("doc_id").dataType
    val ids = optOut.where(col(idCol).isNotNull)
      .select(col(idCol).cast(idType).as("doc_id")).distinct()
    val conf = spark.sessionState.newHadoopConf()
    def ledgerCount(sub: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (p.getFileSystem(conf).exists(p))
        spark.read.parquet(s"$dir/$sub").count()
      else 0L
    }
    // the three counts are independent read-only jobs — overlap them
    // (§2.6); concurrent actions on lazy frames are thread-safe
    var assigned = 0L; var pending = 0L; var applied = 0L
    inParallel(
      () => assigned = assign.join(broadcast(ids), Seq("doc_id"), "left_semi")
        .count(),
      () => pending = ledgerCount("retracted"),
      () => applied = ledgerCount("retracted_applied"))
    spark.createDataFrame(Seq(
        ("applied_history", applied, true),
        ("assigned_optout", assigned, assigned == 0L),
        ("pending_refresh", pending, pending == 0L)))
      .toDF("aspect", "n", "ok")
  }

  /** RETROACTIVE DECONTAMINATION — the "a new benchmark just shipped"
    * op: find accepted corpus docs sharing ≥ `minOverlaps` exact word
    * `n`-grams with the benchmark ([[graft.llm.Dedup.contaminated]] —
    * broadcast gram set, id-only aggregation) and RETRACT them from
    * the curated-pack ledgers. The funnel's decontaminate stage only
    * guards NEW ingests against benchmarks known at ingest time; this
    * is its inverse for benchmarks published after the corpus shipped.
    * `docs` is the doc store ([[graft.llm.Packing.materializeShardsFromAssignment]]'s
    * `docs` side); only docs present in the assignment are scanned.
    * Tombstone semantics are usually WRONG here — contaminated text is
    * not banned text, the doc must merely not ship while this
    * benchmark is in the eval set — so `forget = true` erases the
    * hash/sig rows and a later de-contaminated pipeline may re-admit;
    * pass `forget = false` to keep the tombstones. Same epoch-boundary
    * concurrency contract as [[retractFromCuratedPack]]. */
  def retractContaminated(spark: org.apache.spark.sql.SparkSession,
                          dir: String, docs: DataFrame, idCol: String,
                          textCol: String, benchmark: DataFrame,
                          n: Int = 8, minOverlaps: Int = 1,
                          repack: Boolean = false, budget: Long = 0L,
                          forget: Boolean = true,
                          tag: String = ""): DataFrame = {
    val assigned = spark.read.parquet(s"$dir/assign")
      .select(col("doc_id").as(idCol))
    val accepted = docs.join(assigned, Seq(idCol), "left_semi")
    val bad = graft.llm.Dedup.contaminated(accepted, benchmark, idCol,
        textCol, n, minOverlaps)
      .select(col("doc_id").as(idCol))
    retractFromCuratedPack(spark, dir, bad, idCol, repack, budget,
      forgetDocs = if (forget) Some(docs) else None,
      forgetTextCol = textCol, tag = tag)
  }

  /** RETRACTION over the persisted VECTOR INDEXES — a takedown is
    * corpus-wide: the doc's embedding must leave the ANN surface too,
    * or a similarity search keeps resurfacing retracted content. Works
    * on any of the [[graft.llm.Similarity]] index layouts by scrubbing
    * whichever ledger subdirs exist: `assignments` (IVF — id column
    * `neighbor_id`, cluster-partitioned layout preserved so the probe
    * path stays partition-pruned) and `codes` (PQ / IVF-PQ — id column
    * `vec_id`). Centroids/codebooks are UNTOUCHED: they are fitted
    * aggregates, not per-doc data, and keeping them preserves
    * append ≡ encode-the-union for future batches (the same
    * periodic-refit maintenance trade the appends already document).
    * No tombstones here — the vector ledgers are downstream of the
    * pack ledgers, whose hash/sig tombstones are what guard
    * re-admission of the content itself. Same epoch-boundary
    * concurrency contract as [[retractFromCuratedPack]].
    *
    * Multi-generation indexes ([[graft.llm.Similarity.reindexIvf]]):
    * EVERY generation is scrubbed, not just the serving one — a
    * retired generation on disk is a rollback target and still holds
    * the vector; a takedown that only touched the serving root would
    * silently reappear on rollback. Generation ledgers report as
    * `gen-NNNN/assignments` etc.
    *
    * @return one row per rewritten ledger:
    *         (ledger, rows_before, rows_removed, rows_after) */
  def retractFromVectorIndex(spark: org.apache.spark.sql.SparkSession,
                             dir: String, retractIds: DataFrame,
                             idCol: String): DataFrame = {
    val rids0 = retractIds.where(col(idCol).isNotNull)
      .select(col(idCol).as("__graft_retract")).distinct()
      .localCheckpoint(true)
    val report = collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
    val hconf = spark.sessionState.newHadoopConf()
    def scrub(root: String, prefix: String, sub: String, subIdCol: String,
              partitionCols: Seq[String]): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$sub")
      if (p.getFileSystem(hconf).exists(p)) {
        val df = spark.read.parquet(s"$root/$sub")
        val rids = rids0.select(col("__graft_retract")
          .cast(df.schema(subIdCol).dataType).as("__graft_retract"))
        val kept = df.join(rids,
            col(subIdCol) === col("__graft_retract"), "left_anti")
          .localCheckpoint(true)
        val before = df.count()
        val after = kept.count()
        swapDir(spark, s"$root/$sub", kept, partitionCols)
        report += ((s"$prefix$sub", before, before - after, after))
      }
    }
    def scrubRoot(root: String, prefix: String): Unit = {
      scrub(root, prefix, "assignments", "neighbor_id", Seq("cluster"))
      scrub(root, prefix, "codes", "vec_id", Nil)
    }
    scrubRoot(dir, "")
    graft.store.Generations.VectorIndex.list(spark, dir)
      .foreach(g => scrubRoot(g.toString, s"${g.getName}/"))
    require(report.nonEmpty,
      s"retractFromVectorIndex: $dir has neither assignments nor codes — " +
        "not a persisted vector index")
    spark.createDataFrame(report.toSeq)
      .toDF("ledger", "rows_before", "rows_removed", "rows_after")
  }

  /** Swap-rewrite one ledger dir with `df` (ALREADY lineage-severed
    * from the dir — localCheckpoint before calling). Non-empty
    * `partitionCols` preserves a partitioned layout. */
  /** COMPACT the curated-pack ledgers — the small-files closer for
    * the LAST store family still accruing per-batch file drift
    * (postings and the vector indexes compact via
    * [[graft.llm.Search.compactPostings]] /
    * [[graft.llm.Similarity.compactVectorIndex]]): every micro-batch
    * of [[appendCuratedPackStream]] (and every retraction queue
    * append) lands its own parquet files under `dir/assign`,
    * `dir/hashes`, `dir/sigs`, `dir/retracted` — and the per-batch
    * ledger anti-joins re-open every one of them, so a long-running
    * stream's ingest cost creeps with ledger FILE COUNT even while
    * row counts are stable. Compaction reads each existing ledger
    * once, coalesces to `shards` files (no shuffle — a pure file
    * fold; content row-identical, spec + oracle-bound), and rewrites
    * it through the same [[swapDir]] the retraction rewrites use.
    * EPOCH BOUNDARY ONLY, like [[retractFromCuratedPack]]: the
    * single-maintainer contract covers the pack stream too — stop the
    * stream, compact, restart; the restarted stream dedups against
    * the folded ledgers identically.
    *
    * @return one row per existing ledger:
    *         (ledger, files_before, files_after, rows) */
  def compactCuratedPack(spark: org.apache.spark.sql.SparkSession,
                         dir: String, shards: Int = 4): DataFrame = {
    require(shards >= 1,
      s"compactCuratedPack: shards must be >= 1, got $shards")
    val conf = spark.sessionState.newHadoopConf()
    def dataFiles(p: org.apache.hadoop.fs.Path): Long = {
      val fs = p.getFileSystem(conf)
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.startsWith("part-")) n += 1
      n
    }
    // each ledger's fold touches only its own directory — run the four
    // independent rewrites concurrently (§2.6), reporting in the
    // original fixed order
    val subs = Seq("assign", "hashes", "sigs", "retracted")
    val slots = new Array[(String, Long, Long, Long)](subs.size)
    inParallel(subs.zipWithIndex.flatMap { case (sub, i) =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (!p.getFileSystem(conf).exists(p)) None
      else Some(() => {
        val before = dataFiles(p)
        // materialize BEFORE the swap: the folded frame's lineage
        // reads the very files swapDir deletes (the retraction
        // rewrite discipline)
        val folded = spark.read.parquet(p.toString).coalesce(shards)
          .localCheckpoint(true)
        val rows = folded.count()
        swapDir(spark, p.toString, folded)
        slots(i) = ((sub, before, dataFiles(p), rows))
      })
    }: _*)
    import spark.implicits._
    slots.toSeq.filter(_ != null)
      .toDF("ledger", "files_before", "files_after", "rows")
  }

  /** GENERIC ledger-directory compaction — [[compactCuratedPack]] for
    * any single append-mode parquet ledger: the continuous sinks'
    * ANSWER ledgers ([[searchIvfStream]]/[[bm25SearchStream]]/
    * [[hybridSearchStream]] `outDir` — whose answer-exactly-once
    * anti-join re-reads the ledger every micro-batch, so file-count
    * creep is ingest-cost creep), the transitions ledgers, maintenance
    * report dirs. Hive-partitioned layouts (the bucketed transitions
    * ledger's `__bucket=N` dirs) are detected from the first-level
    * directory names and preserved — the fold re-partitions ON the
    * partition columns and rewrites one file per partition (directory
    * pruning keeps working); flat layouts coalesce to `shards` files.
    * Content row-identical (spec-bound). EPOCH BOUNDARY ONLY — stop
    * the stream that owns the ledger, compact, restart (the
    * [[compactCuratedPack]] contract).
    *
    * @return one audit row (files_before, files_after, rows,
    *         partitioned_by — comma-joined, empty for flat) */
  def compactLedgerDir(spark: org.apache.spark.sql.SparkSession,
                       dir: String, shards: Int = 4): DataFrame = {
    require(shards >= 1,
      s"compactLedgerDir: shards must be >= 1, got $shards")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"compactLedgerDir: no ledger at $dir")
    def dataFiles(): Long = {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.startsWith("part-")) n += 1
      n
    }
    val partCols = fs.listStatus(p)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.contains("=")).map(_.takeWhile(_ != '=')).distinct.toSeq
    val before = dataFiles()
    val raw = spark.read.parquet(dir)
    val folded = (if (partCols.nonEmpty) raw else raw.coalesce(shards))
      .localCheckpoint(true) // sever lineage from the files the swap deletes
    val rows = folded.count()
    swapDir(spark, dir, folded, partCols)
    spark.range(1).select(lit(before).as("files_before"),
      lit(dataFiles()).as("files_after"), lit(rows).as("rows"),
      lit(partCols.mkString(",")).as("partitioned_by"))
  }

  private def swapDir(spark: org.apache.spark.sql.SparkSession,
                      path: String, df: DataFrame,
                      partitionCols: Seq[String] = Nil): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(path + "__retract_tmp")
    val w = (if (partitionCols.nonEmpty)
        df.repartition(partitionCols.map(col): _*) else df)
      .write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    fs.delete(p, true)
    if (!fs.rename(tmp, p))
      throw new IllegalStateException(
        s"retraction: rename $tmp -> $p failed; ledger left at $tmp")
  }
}
