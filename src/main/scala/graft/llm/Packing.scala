package graft.llm

import graft.util.Par
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training-data assembly: concatenate the
  * corpus token stream in a deterministic document order and cut it
  * into fixed-budget context windows. Each document is assigned the
  * pack (window) containing its FIRST token:
  * `pack_id = floor(token_offset / budget)` with `token_offset` the
  * exclusive prefix sum of token counts in document order — the
  * streaming-concatenation packing used to build training batches
  * (documents straddle pack boundaries instead of leaving slack; a
  * document longer than `budget` simply spans several packs and keeps
  * its starting pack id).
  *
  * Scale shape: the global prefix sum is TWO-PHASE — a per-partition
  * partial-sum frame (ONE ROW PER PARTITION, broadcast back as start
  * offsets) plus a window partitioned by partition id — so no
  * single-partition global window touches the data. The input is
  * range-partitioned on the order key first, making partition order
  * the stream order. The only unpartitioned window runs over the tiny
  * per-partition totals frame (`numParts` rows). Deterministic and
  * exactly reproducible in SQL (`SUM ... OVER (ORDER BY ...)`), so the
  * cross-engine oracle compares hash-identical integers.
  */
object Packing {

  /** Assign each row a global `token_offset` and `pack_id`.
    *
    * @param df        input
    * @param idCol     unique orderable id defining the stream order
    * @param tokensCol per-document token count (any numeric expression)
    * @param budget    tokens per context window (pack)
    * @param numParts  range partitions for the prefix sum (default: the
    *                  session's shuffle parallelism)
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: Column,
                    budget: Long, numParts: Int = 0): DataFrame = {
    require(budget > 0, s"packSequences: budget must be positive, got $budget")
    val n = if (numParts > 0) numParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // localCheckpoint pins the partition assignment: `base` feeds BOTH
    // the offsets aggregation and the final join, and `__pid` (a
    // physical partition id) is only consistent between the two
    // branches if they observe the SAME materialized shuffle — an
    // exchange-reuse miss or AQE re-plan would otherwise recompute the
    // range sampling differently and silently corrupt token_offset.
    // (doc_id is an arbitrary orderable type, so a rank-hash bucket —
    // the deterministic fix used in Mixing.tokenBudgetSample — can't be
    // made monotone here without knowing the id distribution.)
    val base = df.select(col(idCol).as("doc_id"),
        tokensCol.cast("long").as("n_tokens"))
      .repartitionByRange(n, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    // phase 1: per-partition totals — one row per partition; the
    // unpartitioned window below only ever sees those `n` rows
    val wPart = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("__pid"))
      .agg(sum(col("n_tokens")).as("__psum"))
      .withColumn("__poff", coalesce(sum(col("__psum")).over(wPart), lit(0L)))
      .select(col("__pid"), col("__poff"))
    // phase 2: partition-local exclusive cumsum + broadcast start offset
    val wLocal = Window.partitionBy(col("__pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offsets), Seq("__pid"))
      .withColumn("token_offset",
        col("__poff") + coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
      .withColumn("pack_id",
        floor(col("token_offset") / lit(budget)).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("token_offset"), col("pack_id"))
  }

  /** Incremental continuation of [[packSequences]] — the
    * continuous-ingestion shape (the packing analogue of
    * `exactDedupAgainst` / `appendIvfIndex`): a NEW batch continues
    * the token stream where the existing assignment stopped, so
    * offsets and pack ids extend the corpus assignment WITHOUT
    * re-packing it — including filling the last partial pack, because
    * the floor(offset/budget) framing is a pure function of the
    * global offset. When batch ids sort after the corpus ids (the
    * ingestion contract for an orderable stream id), append ≡
    * repack-of-union exactly (spec- and oracle-bound).
    *
    * That contract is CHECKED, not just documented, when the caller
    * passes `minBatchIdExclusive` (the corpus max id —
    * [[assignedTokenTotal]]'s natural companion from the same ledger):
    * an interleaving batch would silently yield offsets/pack ids that
    * diverge from repack-of-union, so the cheap min-aggregate guard is
    * worth one extra job over the batch.
    *
    * @param startOffset total token count already assigned — from
    *                    [[assignedTokenTotal]] over the existing
    *                    assignment, or carried in the ingestion ledger
    * @param minBatchIdExclusive when set, require every batch id to
    *                    sort STRICTLY after it (the append-equals-
    *                    repack precondition); violation throws instead
    *                    of corrupting the stream */
  def packSequencesAppend(batch: DataFrame, idCol: String, tokensCol: Column,
                          budget: Long, startOffset: Long,
                          numParts: Int = 0,
                          minBatchIdExclusive: Option[Long] = None): DataFrame = {
    require(startOffset >= 0,
      s"packSequencesAppend: startOffset must be >= 0, got $startOffset")
    minBatchIdExclusive.foreach { bound =>
      // the guard must compare in the SAME order packSequences sorts
      // by — the column's natural order. A silent cast would pass a
      // lexicographically-interleaving string batch ("10" < "9" as
      // strings, 10 > 9 as longs) or null out entirely on non-numeric
      // ids; restrict the Long-typed guard to integral id columns and
      // fail loudly otherwise.
      batch.schema(idCol).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case other => throw new IllegalArgumentException(
          s"packSequencesAppend: minBatchIdExclusive guards integral id " +
            s"columns only (got ${other.catalogString} for $idCol — a Long " +
            "bound cannot express the natural order of that type)")
      }
      val r = batch.agg(min(col(idCol).cast("long"))).head()
      if (!r.isNullAt(0))
        require(r.getLong(0) > bound,
          s"packSequencesAppend: batch min $idCol ${r.getLong(0)} does not " +
            s"sort after the corpus max id $bound — an interleaving batch " +
            "breaks append == repack-of-union")
    }
    packSequences(batch, idCol, tokensCol, budget, numParts)
      .withColumn("token_offset", col("token_offset") + startOffset)
      .withColumn("pack_id",
        floor(col("token_offset") / lit(budget)).cast("long"))
  }

  /** Total token count of an existing [[packSequences]] assignment —
    * the `startOffset` for the next [[packSequencesAppend]] batch.
    * One max aggregate (a one-row driver scalar, not a corpus
    * collect). */
  def assignedTokenTotal(assignment: DataFrame): Long = {
    val r = assignment
      .agg(max(col("token_offset") + col("n_tokens"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Deterministic shuffle + sharding for training-data loaders: every
    * row gets a stable pseudo-random `rank` (md5 of its id — chosen
    * over seeded RNG or xxhash64 because md5 is identical in every
    * engine, so the order is auditable cross-engine) and a `shard` from
    * the first EIGHT hex digits mod `nShards`. Shard assignment is
    * MAP-ONLY (no global window, no shuffle until the caller
    * repartitions by shard); within-shard order is `rank`. This is the
    * reproducible-shuffle contract a distributed data loader needs:
    * same corpus → same shard membership and same per-shard order, on
    * any cluster size.
    *
    * Eight hex digits give a 2³²-value key, so `nShards` scales to the
    * ~10⁵ shards a 100 TB corpus wants at ~1 GB/shard (the former
    * two-digit key capped it at 256, i.e. 400 GB shards at that
    * scale). Uniformity: 2³² % nShards skew is ≤ nShards/2³² relative
    * (≤ 1/4096 at the 2²⁰ cap; powers of two are exactly uniform).
    * The key is [[rankDigest]] — pure per-digit substring arithmetic,
    * identical in every engine (no conv()/from_hex), so shard
    * membership is auditable from the `rank` column alone.
    *
    * `salt` re-keys the whole shuffle deterministically — the
    * per-epoch reshuffle a trainer wants (`salt = "epoch3"` gives a
    * fresh order and fresh shard membership, reproducible on any
    * cluster); the default empty salt is the identity (md5 of the id
    * alone, byte-compatible with every persisted round-7 manifest).
    *
    * COMPATIBILITY BREAK (round 8): only the `rank` column is
    * byte-compatible with round-7 output. The `shard` column is NOT —
    * the key widened from the first 2 to the first 8 hex digits of the
    * rank, so for the same (id, nShards) the assignment differs even
    * at nShards ≤ 256. Shard membership written by round ≤ 7 cannot be
    * re-derived with this function; re-derive it as
    * `conv(substring(rank, 1, 2), 16, 10) % nShards` from the persisted
    * `rank`, or re-shard the corpus (the manifest checksums cover the
    * new layout). */
  def shardShuffle(df: DataFrame, idCol: String, nShards: Int,
                   salt: String = ""): DataFrame = {
    require(nShards > 0 && nShards <= (1 << 20),
      s"shardShuffle: nShards must be in 1..${1 << 20}, got $nShards")
    df.withColumn("rank",
        md5(concat(lit(salt), col(idCol).cast("string"))))
      .withColumn("shard", pmod(rankDigest(col("rank")), lit(nShards.toLong)))
  }

  /** CURRICULUM packing — pack the token stream in ascending
    * (score, id) order instead of id order: the easy-to-hard ordering
    * curriculum-learning recipes feed trainers (score = length,
    * quality bucket, classifier score...). Implementation is the
    * [[shardShuffle]]/epoch-salt trick with a SORTABLE rank instead of
    * a random one: rank = zero-padded score ':' zero-padded id, so
    * [[packSequences]]' two-phase prefix machinery runs UNCHANGED over
    * the curriculum order — range partition by rank, same bounded
    * windows, zero new operator code — and the rank string is exactly
    * SQL-replayable (`lpad`). Scores must be non-negative integers
    * (zero-padding is only order-preserving there — a codegen'd
    * raise_error trips on negatives) and ids integral; ties fall back
    * to id order, keeping the output deterministic.
    *
    * @return (doc_id, rank, n_tokens, token_offset, pack_id) */
  def packByScore(df: DataFrame, idCol: String, scoreCol: Column,
                  tokensCol: Column, budget: Long,
                  numParts: Int = 0): DataFrame = {
    val guarded = when(scoreCol.cast("long") < 0, raise_error(concat(
        lit("packByScore: negative score for doc "),
        col(idCol).cast("string"),
        lit(" — zero-padded ranks are order-preserving only for " +
          "non-negative scores"))).cast("long"))
      .otherwise(scoreCol.cast("long"))
    val ranked = df.select(col(idCol).as("__doc"),
      concat(lpad(guarded.cast("string"), 19, "0"), lit(":"),
        lpad(col(idCol).cast("string"), 19, "0")).as("__rank"),
      tokensCol.cast("long").as("__n"))
    packSequences(ranked, "__rank", col("__n"), budget, numParts)
      .select(col("doc_id").as("__rankOut"), col("n_tokens"),
        col("token_offset"), col("pack_id"))
      .join(ranked.select(col("__doc"), col("__rank")),
        col("__rank") === col("__rankOut"))
      .select(col("__doc").as("doc_id"), col("__rank").as("rank"),
        col("n_tokens"), col("token_offset"), col("pack_id"))
  }

  /** Length-bucketed batch assembly — the padding-reduction trainer
    * prep for models that DON'T concatenate (instruction tuning,
    * encoder batches): sort-by-length, cut into `nBuckets` equal-count
    * buckets, fill fixed-size batches inside each bucket, so a batch's
    * pad-to-max waste is bounded by the within-bucket length spread
    * instead of the corpus-wide one.
    *
    * Bucket semantics are EXACTLY SQL `NTILE(nBuckets)` over
    * `(n_tokens, id)` (1-based; the first `N mod nBuckets` buckets
    * take the extra row), and `batch_id` is the 0-based
    * `floor(within-bucket-rank / batchSize)` — both derived
    * ARITHMETICALLY from one global rank, which itself comes from the
    * [[packSequences]] two-phase prefix machinery (range partition +
    * per-partition counts + a window over the tiny per-partition
    * frame). No global window, no ntile over a single partition — the
    * plan survives a corpus that does not fit one executor.
    *
    * Returns (doc_id, n_tokens, bucket, batch_id). */
  def lengthBucketBatches(df: DataFrame, idCol: String, tokensCol: Column,
                          nBuckets: Int, batchSize: Int,
                          numParts: Int = 0): DataFrame = {
    require(batchSize > 0, s"lengthBucketBatches: batchSize must be positive")
    lengthRanked(df, idCol, tokensCol, nBuckets, numParts)
      .withColumn("batch_id",
        floor(col("__brank") / batchSize).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("batch_id"))
  }

  /** The shared length-bucketing front end of [[lengthBucketBatches]]
    * and [[bucketedPackGreedy]]: NTILE(nBuckets) over `(n_tokens, id)`
    * plus the 0-based WITHIN-bucket length rank `__brank`, all derived
    * arithmetically from one global rank built by the two-phase prefix
    * machinery (range partition + per-partition counts + a window over
    * the tiny per-partition frame — no global window).
    * Returns (doc_id, n_tokens, bucket 1-based, __brank). */
  private def lengthRanked(df: DataFrame, idCol: String, tokensCol: Column,
                           nBuckets: Int, numParts: Int): DataFrame = {
    require(nBuckets > 0, "length bucketing: nBuckets must be positive")
    val n = if (numParts > 0) numParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val base = df.select(col(idCol).as("doc_id"),
        tokensCol.cast("long").as("n_tokens"))
      .repartitionByRange(n, col("n_tokens"), col("doc_id"))
      .sortWithinPartitions(col("n_tokens"), col("doc_id"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val wPart = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__pc"))
      .withColumn("__poff", coalesce(sum(col("__pc")).over(wPart), lit(0L)))
      .select(col("__pid"), col("__poff"))
    val total = base.count()
    val wLocal = Window.partitionBy(col("__pid"))
      .orderBy(col("n_tokens"), col("doc_id"))
    val ranked = base.join(broadcast(offsets), Seq("__pid"))
      .withColumn("__rank", // 0-based global rank in length order
        col("__poff") + row_number().over(wLocal) - 1)
    // NTILE arithmetic: the first `big` buckets hold base+1 rows
    val bucketBase = total / nBuckets
    val big = total % nBuckets
    val cut = big * (bucketBase + 1) // ranks below `cut` are in big buckets
    val bucket0 =
      if (bucketBase == 0) col("__rank") // N < nBuckets: one row per bucket
      else when(col("__rank") < cut, floor(col("__rank") / (bucketBase + 1)))
        .otherwise(lit(big) + floor((col("__rank") - cut) / bucketBase))
    val bucketStart =
      if (bucketBase == 0) col("__rank")
      else when(col("__rank") < cut, bucket0 * (bucketBase + 1))
        .otherwise(lit(cut) + (bucket0 - big) * bucketBase)
    ranked
      .withColumn("bucket", (bucket0 + 1).cast("long")) // 1-based, NTILE
      .withColumn("__brank", (col("__rank") - bucketStart).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("bucket"), col("__brank"))
  }

  /** Bucket-then-pack — the composition real trainers run
    * ([[lengthBucketBatches]] and [[packGreedy]] as ONE operator):
    * NTILE length buckets first, then the no-split greedy fold WITHIN
    * each bucket in length order. Packing length-sorted docs is what
    * makes greedy first-fit tight — consecutive docs have near-equal
    * lengths, so packs close near the budget instead of stranding a
    * long tail — and the per-bucket boundary costs at most one
    * underfull pack per bucket (measured, not assumed:
    * `pack_bucketed_padding` compares this scheme's padding against
    * stream-order [[packGreedy]] on the same corpus and budget).
    *
    * Distributed shape: the bucket and within-bucket rank come from
    * [[lengthRanked]]'s two-phase prefix machinery; the fold reuses
    * [[packGreedy]]'s bounded-group native kernel with group key
    * (bucket, __brank/docsPerGroup), and per-group pack counts
    * prefix-sum over a TINY one-row-per-group frame ordered by
    * (bucket, group) into globally dense pack ids. Same approximation
    * bound as packGreedy: ≤ 1 underfull pack per group boundary.
    *
    * @return (doc_id, n_tokens, bucket, pack_id, oversize) — pack ids
    *         dense from 0 in (bucket, length-order) sequence */
  def bucketedPackGreedy(df: DataFrame, idCol: String, tokensCol: Column,
                         nBuckets: Int, budget: Long,
                         docsPerGroup: Int = 4096,
                         numParts: Int = 0): DataFrame = {
    require(budget > 0, s"bucketedPackGreedy: budget must be positive, got $budget")
    require(docsPerGroup > 0,
      s"bucketedPackGreedy: docsPerGroup must be positive, got $docsPerGroup")
    val spark = df.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val ranked = lengthRanked(df, idCol, tokensCol, nBuckets, numParts)
      .withColumn("__grpb", floor(col("__brank") / docsPerGroup).cast("long"))
    val grouped = ranked.groupBy(col("bucket"), col("__grpb"))
      .agg(sort_array(collect_list(
        struct(col("__brank"), col("doc_id"), col("n_tokens")))).as("ms"))
      .withColumn("__locals",
        expr(s"graft_greedy_pack(transform(ms, m -> m.n_tokens), $budget)"))
      .withColumn("__npacks",
        (element_at(col("__locals"), -1) + 1).cast("long"))
    // one row per (bucket, group) — the same bounded unpartitioned
    // window shape as packGreedy's offsets frame
    val wGrp = Window.orderBy(col("bucket"), col("__grpb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = grouped.select(col("bucket"), col("__grpb"), col("__npacks"))
      .withColumn("__gpoff", coalesce(sum(col("__npacks")).over(wGrp), lit(0L)))
      .select(col("bucket"), col("__grpb"), col("__gpoff"))
    grouped.join(broadcast(offs), Seq("bucket", "__grpb"))
      .select(col("bucket"), col("__gpoff"),
        explode(arrays_zip(col("ms"), col("__locals"))).as("z"))
      .select(col("z.ms.doc_id").as("doc_id"),
        col("z.ms.n_tokens").as("n_tokens"),
        col("bucket"),
        (col("__gpoff") + col("z.__locals")).as("pack_id"),
        (col("z.ms.n_tokens") > budget).as("oversize"))
  }

  /** Per-batch padding audit of [[lengthBucketBatches]] vs the
    * same-size batches cut from plain id order: pad-to-max waste per
    * batch is `batchMax × batchRows − batchTokens`; the report
    * aggregates both schemes per bucket so the saving is measured, not
    * assumed. */
  def lengthBucketPadding(df: DataFrame, idCol: String, tokensCol: Column,
                          nBuckets: Int, batchSize: Int,
                          numParts: Int = 0): DataFrame = {
    val bucketed = lengthBucketBatches(df, idCol, tokensCol, nBuckets,
      batchSize, numParts)
    bucketed.groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tok"),
        max(col("n_tokens")).as("mx"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_batches"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("mx") * col("n_docs") - col("tok")).as("padding_tokens"),
        sum(col("tok")).as("total_tokens"))
  }

  /** Materialize [[packSequences]]' assignments into the actual
    * concatenated per-pack token streams — the last-mile artifact a
    * training data loader reads. Each pack row carries its member
    * docs' tokens concatenated in stream order plus audit columns.
    *
    * @param df        input with a TOKEN ARRAY column
    * @param idCol     unique orderable id defining the stream order
    * @param tokensCol array<string> token column (token count = size)
    * @param budget    tokens per context window
    * @return (pack_id, n_docs, n_tokens, tokens) ordered by pack_id
    *
    * Scale shape: one [[packSequences]] pass (its two-phase prefix
    * sum), one join back to the token arrays by doc id, then ONE
    * shuffle on pack_id whose groups are bounded by construction —
    * a pack holds ≤ budget tokens plus at most one straddling
    * document, so collect_list state is capped near the context
    * length, never corpus-sized. The straddle-keeps-starting-pack
    * convention of packSequences is preserved (packs can exceed
    * `budget` by less than one document; a loader truncates or
    * overflows per its own policy). */
  def packMaterialize(df: DataFrame, idCol: String, tokensCol: Column,
                      budget: Long, numParts: Int = 0,
                      docSep: Option[String] = None): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), tokensCol.as("__toks"))
    val assigned = packSequences(df, idCol, size(tokensCol).cast("long"),
      budget, numParts)
    materializeAssigned(assigned.join(toks, Seq("doc_id")), docSep)
  }

  /** The pack-assembly back half shared by [[packMaterialize]] (inline
    * assignment) and [[materializeShardsFromAssignment]] (persisted —
    * e.g. streamed — assignment): collect each pack's concatenated
    * member token stream in offset order from a frame carrying
    * (doc_id, n_tokens, token_offset, pack_id, __toks).
    *
    * docSep: the document separator token trainers insert between
    * concatenated docs (EOS/endoftext) — appended AFTER EVERY member
    * doc, the (doc + EOS)* convention, so the stream length is
    * n_tokens + n_docs. n_tokens stays the DOC token sum (the budget
    * accounting is separator-free, matching packSequences). */
  private def materializeAssigned(joined: DataFrame,
                                  docSep: Option[String]): DataFrame = {
    val member: Column => Column = docSep match {
      case Some(sp) => ts => concat(ts, array(lit(sp)))
      case None => ts => ts
    }
    joined
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        // struct sorts by its first field: token_offset orders members
        flatten(transform(
          sort_array(collect_list(struct(col("token_offset"), col("__toks")))),
          m => member(m.getField("__toks")))).as("tokens"))
      .select(col("pack_id"), col("n_docs"), col("n_tokens"), col("tokens"))
  }

  /** The streamed-assignment → certified-shards handoff: read the pack
    * assignment [[graft.streaming.IndexIngest.appendPackStream]]
    * accumulated (or any persisted [[packSequences]] output), join the
    * document store back by id, assemble packs, and run the
    * certified-shard back half ([[writeTrainingShards]]). This makes
    * the PLANS-argued split executable as ONE step: the continuous
    * chain ends at the pack assignment (a ledger the stream can extend
    * forever), and shards materialize at epoch boundaries from that
    * ledger — streamed assignment + this call ≡ the one-shot
    * pack_materialize → training_shards chain over the union of all
    * batches (oracle-bound by `pack_stream_materialize`; epoch-
    * boundary case in StreamingSpec).
    *
    * Fails LOUDLY on handoff drift instead of shipping corrupt shards:
    * a doc present in the assignment but missing from the store, or
    * whose store-side token count no longer matches the assigned
    * `n_tokens` (retokenized store, wrong `tokensCol`), raises with
    * the doc id — both would silently hole or shift the token stream.
    * Zero-token assignment rows are dropped (they occupy no tokens, so
    * offsets are unaffected — the pack_materialize kind's convention).
    *
    * `epochSalt` + `epochBudget`: SHUFFLED epoch-boundary shards — the
    * order trainers actually want (doc order correlates with
    * crawl/source locality; packing in ledger order leaks that
    * correlation into every context window, the `pack_shuffled`
    * rationale). The streamed assignment stays the doc-order ledger
    * the stream can extend forever; at the epoch boundary the ledger's
    * MEMBERSHIP + token counts are re-packed in epoch-salted md5-rank
    * order (`md5(salt:doc_id)` as the packing id through
    * [[packSequences]]' unchanged two-phase machinery), so each
    * epoch's salt draws an independent deterministic order and the
    * re-pack shuffles only (id, rank, count) rows — the token payload
    * still moves exactly once, in the pack-assembly join. Epoch-local
    * pack ids/offsets; the persisted assignment is NOT rewritten.
    *
    * Returns the re-read certified manifest. */
  def materializeShardsFromAssignment(spark: org.apache.spark.sql.SparkSession,
                                      assignmentDir: String, docs: DataFrame,
                                      idCol: String, tokensCol: Column,
                                      dir: String, nShards: Int,
                                      docSep: Option[String] = None,
                                      epochSalt: Option[String] = None,
                                      epochBudget: Long = 0L): DataFrame = {
    require(epochSalt.isEmpty || epochBudget > 0,
      "materializeShardsFromAssignment: epochSalt requires a positive " +
        "epochBudget (the re-pack cannot recover the budget from the " +
        "doc-order assignment)")
    val ledger = spark.read.parquet(assignmentDir)
      .where(col("n_tokens") > 0)
    val assigned = epochSalt match {
      case None => ledger
      case Some(salt) =>
        val ranked = ledger.select(col("doc_id"),
          md5(concat(lit(s"$salt:"), col("doc_id").cast("string")))
            .as("__rank"), col("n_tokens"))
        packSequences(ranked, "__rank", col("n_tokens"), epochBudget)
          .select(col("doc_id").as("__rank"), col("n_tokens"),
            col("token_offset"), col("pack_id"))
          .join(ranked.select(col("doc_id"), col("__rank")), Seq("__rank"))
          .select(col("doc_id"), col("n_tokens"), col("token_offset"),
            col("pack_id"))
    }
    val packs = materializeAssigned(
      checkedStoreJoin(assigned, docs, idCol, tokensCol), docSep)
    writeTrainingShards(packs, "pack_id", dir, nShards)
  }

  /** The assignment × document-store join with the drift guards both
    * materialization paths share: a missing doc or a retokenized store
    * fails loudly (codegen'd raise_error branches), never silently
    * holes or shifts the token stream. */
  private def checkedStoreJoin(assigned: DataFrame, docs: DataFrame,
                               idCol: String, tokensCol: Column): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokensCol.as("__toks"))
    assigned.join(toks, Seq("doc_id"), "left")
      .withColumn("__toks",
        when(col("__toks").isNull, raise_error(concat(
          lit("materializeShardsFromAssignment: assigned doc "),
          col("doc_id").cast("string"),
          lit(" is missing from the document store"))).cast("array<string>"))
        .when(size(col("__toks")) =!= col("n_tokens"), raise_error(concat(
          lit("materializeShardsFromAssignment: doc "),
          col("doc_id").cast("string"),
          lit(" has "), size(col("__toks")).cast("string"),
          lit(" store tokens but "), col("n_tokens").cast("string"),
          lit(" assigned — store and assignment have drifted")))
          .cast("array<string>"))
        .otherwise(col("__toks")))
  }

  /** INCREMENTAL SHARD REFRESH after scrub-mode retraction — at 100 TB
    * this is the difference between a takedown costing a full corpus
    * rewrite and costing the affected shards only. Scrub-mode
    * [[graft.streaming.IndexIngest.retractFromCuratedPack]] queues the
    * retracted assignment rows under `ledgerDir/retracted`; this op
    * drains the queue: it maps the retracted rows' pack ids to their
    * shards (the same md5-rank digest [[writeTrainingShards]] sharded
    * by), rebuilds ONLY those shard partitions from the current
    * assignment + store (same drift guards as full materialization),
    * dynamic-partition-overwrites them in place, deletes any shard
    * whose every pack was retracted, and splices the recomputed rows
    * into the manifest WITHOUT rescanning the untouched shards. The
    * applied rows move to `ledgerDir/retracted_applied` (the takedown
    * audit trail) and the queue is deleted — a crash between the shard
    * write and the drain re-applies idempotently on the next run
    * (the rebuild is a deterministic function of the assignment).
    *
    * Only sound after SCRUB retraction: surviving docs keep their
    * pack ids, so unaffected shards are bit-identical by construction.
    * A repack-mode row in the queue fails loudly — repack shifts every
    * downstream pack; re-materialize instead. `nShards` must equal the
    * value the shards were materialized with (the pack→shard map is
    * arithmetic, not stored).
    *
    * @return the refreshed manifest */
  def refreshRetractedShards(spark: org.apache.spark.sql.SparkSession,
                             ledgerDir: String, docs: DataFrame,
                             idCol: String, tokensCol: Column,
                             dir: String, nShards: Int,
                             docSep: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.SaveMode
    val conf = spark.sessionState.newHadoopConf()
    val queuePath = new org.apache.hadoop.fs.Path(s"$ledgerDir/retracted")
    val queueFs = queuePath.getFileSystem(conf)
    if (!queueFs.exists(queuePath))
      return spark.read.parquet(s"$dir/manifest") // nothing queued
    val retracted = spark.read.parquet(queuePath.toString)
      .localCheckpoint(true)
    // ONE takedown-sized driver collect yields both the mode guard and
    // the affected-shard list (they read the same checkpointed queue)
    val modeShards = shardShuffle(
        retracted.select(col("pack_id"), col("mode")).distinct(),
        "pack_id", nShards)
      .select(col("mode"), col("shard")).distinct().collect()
    val modes = modeShards.map(_.getString(0)).distinct
    require(modes.forall(_ == "scrub"),
      s"refreshRetractedShards: queue contains ${modes.mkString(",")} " +
        "rows — repack shifts every downstream pack, re-materialize " +
        "with materializeShardsFromAssignment instead")
    val affected = modeShards.map(_.getLong(1)).distinct
    val assignment = spark.read.parquet(s"$ledgerDir/assign")
      .where(col("n_tokens") > 0)
    val rebuildPacks = shardShuffle(
        assignment.select(col("pack_id")).distinct(), "pack_id", nShards)
      .where(col("shard").isin(affected: _*)).select(col("pack_id"))
    val subAssign = assignment.join(rebuildPacks, Seq("pack_id"), "left_semi")
      .localCheckpoint(true) // reused: store prune + checked join
    // prune the store BEFORE the token expression runs: the semi-join
    // carries only (id) through the probe, so the full-corpus scan
    // tokenizes nothing outside the affected packs
    val neededStore = docs.join(
      subAssign.select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
    val sharded = shardShuffle(materializeAssigned(
        checkedStoreJoin(subAssign, neededStore, idCol, tokensCol), docSep),
        "pack_id", nShards)
      .localCheckpoint(true) // reused thrice: write, empty-set, manifest
    // the shard-data write, the written-shard audit collect, and the
    // untouched-manifest snapshot are independent (the write lands in
    // $dir/data; the other two read the checkpointed frame and the
    // old manifest) — overlap them (§2.6), write submitted first so
    // FIFO keeps the critical path prioritized
    var written: Set[Long] = Set.empty
    var oldManifest: DataFrame = null
    Par.inParallel(
      () => sharded.repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col("rank"))
        .write.partitionBy("shard")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite).parquet(s"$dir/data"),
      // a shard whose every pack was retracted writes no rows — dynamic
      // overwrite leaves its stale directory; delete it explicitly
      () => written = sharded.select(col("shard")).distinct()
        .collect().map(_.getLong(0)).toSet,
      // manifest splice: untouched rows survive, affected rows
      // recompute from the rebuilt frame — no rescan of the untouched
      // shards; snapshot severed before the overwrite below
      () => oldManifest = spark.read.parquet(s"$dir/manifest")
        .where(!col("shard").isin(affected: _*))
        .localCheckpoint(true))
    val dataFs = new org.apache.hadoop.fs.Path(s"$dir/data")
      .getFileSystem(conf)
    affected.filterNot(written).foreach { sh =>
      dataFs.delete(new org.apache.hadoop.fs.Path(s"$dir/data/shard=$sh"),
        true)
    }
    val newRows = sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(rankDigest(col("rank"))).as("checksum"),
        min(col("rank")).as("min_rank"), max(col("rank")).as("max_rank"))
    oldManifest.unionByName(newRows).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/manifest")
    // drain the queue into the applied audit trail
    retracted.write.mode("append").parquet(s"$ledgerDir/retracted_applied")
    queueFs.delete(queuePath, true)
    spark.read.parquet(s"$dir/manifest")
  }

  /** NO-SPLIT (document-boundary-respecting) greedy packing — the
    * padding-aware packing mode: every document lands WHOLLY inside
    * one context window, and a pack closes when the next document in
    * stream order does not fit. Contrast [[packSequences]], whose
    * offset/chunk framing never pads but lets documents straddle
    * window boundaries; trainers that must not cross doc boundaries
    * (doc-attention masking, instruction tuning) use this mode and
    * measure the padding it costs.
    *
    * Distributed shape: greedy first-fit is inherently sequential, so
    * the stream is cut into bounded GROUPS of `docsPerGroup`
    * consecutive docs (global row numbers from the same two-phase
    * prefix sum as packSequences); each group runs the sequential fold
    * independently via the native O(n) `graft_greedy_pack` kernel
    * (collect_list state is bounded by docsPerGroup), and per-group
    * pack counts prefix-sum over a TINY frame (one row per group) into
    * globally dense pack ids. The only approximation vs a single
    * sequential pass: at most one underfull pack per group boundary —
    * fraction ≤ 1/(packs-per-group), vanishing as docsPerGroup grows.
    *
    * Oversize docs (n_tokens > budget) get a pack of their own,
    * flagged `oversize` — the loader's truncate/skip decision, not
    * ours.
    *
    * @return (doc_id, n_tokens, pack_id, oversize), pack ids dense
    *         from 0 in stream order */
  def packGreedy(df: DataFrame, idCol: String, tokensCol: Column,
                 budget: Long, docsPerGroup: Int = 4096,
                 numParts: Int = 0): DataFrame = {
    require(budget > 0, s"packGreedy: budget must be positive, got $budget")
    require(docsPerGroup > 0,
      s"packGreedy: docsPerGroup must be positive, got $docsPerGroup")
    val spark = df.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val n = if (numParts > 0) numParts
      else spark.sessionState.conf.numShufflePartitions
    // localCheckpoint pins the partition assignment for the same
    // two-branch reasons documented on packSequences
    val base = df.select(col(idCol).as("doc_id"),
        tokensCol.cast("long").as("n_tokens"))
      .repartitionByRange(n, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val wPart = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val counts = base.groupBy(col("__pid")).agg(count(lit(1)).as("__pcnt"))
      .withColumn("__poff", coalesce(sum(col("__pcnt")).over(wPart), lit(0L)))
      .select(col("__pid"), col("__poff"))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(col("doc_id"))
    val rn = base.join(broadcast(counts), Seq("__pid"))
      .withColumn("__rn",
        col("__poff") + row_number().over(wLocal).cast("long") - 1)
      .withColumn("__grp", floor(col("__rn") / docsPerGroup).cast("long"))
    // bounded-group fold: members sorted by stream position, the
    // native kernel emits dense local pack indexes in one O(n) pass
    val grouped = rn.groupBy(col("__grp"))
      .agg(sort_array(collect_list(
        struct(col("__rn"), col("doc_id"), col("n_tokens")))).as("ms"))
      .withColumn("__locals",
        expr(s"graft_greedy_pack(transform(ms, m -> m.n_tokens), $budget)"))
      .withColumn("__npacks",
        (element_at(col("__locals"), -1) + 1).cast("long"))
    // per-group pack-count prefix: ONE row per group (rows/docsPerGroup
    // — the same bounded unpartitioned-window shape as the offsets
    // frame above)
    val wGrp = Window.orderBy(col("__grp"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = grouped.select(col("__grp"), col("__npacks"))
      .withColumn("__gpoff", coalesce(sum(col("__npacks")).over(wGrp), lit(0L)))
      .select(col("__grp"), col("__gpoff"))
    grouped.join(broadcast(offs), Seq("__grp"))
      .select(col("__gpoff"),
        explode(arrays_zip(col("ms"), col("__locals"))).as("z"))
      .select(col("z.ms.doc_id").as("doc_id"),
        col("z.ms.n_tokens").as("n_tokens"),
        (col("__gpoff") + col("z.__locals")).as("pack_id"),
        (col("z.ms.n_tokens") > budget).as("oversize"))
  }

  /** Materialize [[packGreedy]]'s no-split assignment into per-pack
    * concatenated token streams — the trainer-bytes counterpart of
    * [[packMaterialize]] for the doc-boundary-respecting mode. Members
    * concatenate in stream (id) order; `docSep` follows the same
    * (doc + EOS)* convention. Same bounded shape: the greedy
    * assignment's two prefix frames + ONE shuffle on pack_id whose
    * groups hold ≤ budget tokens (or a single flagged oversize doc).
    *
    * @return (pack_id, n_docs, n_tokens, oversize, tokens) by pack */
  def packGreedyMaterialize(df: DataFrame, idCol: String, tokensCol: Column,
                            budget: Long, docsPerGroup: Int = 4096,
                            numParts: Int = 0,
                            docSep: Option[String] = None): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), tokensCol.as("__toks"))
    val asg = packGreedy(df, idCol, size(tokensCol).cast("long"),
      budget, docsPerGroup, numParts)
    val member: Column => Column = docSep match {
      case Some(sp) => ts => concat(ts, array(lit(sp)))
      case None => ts => ts
    }
    asg.join(toks, Seq("doc_id"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        max(col("oversize")).as("oversize"),
        flatten(transform(
          sort_array(collect_list(struct(col("doc_id"), col("__toks")))),
          m => member(m.getField("__toks")))).as("tokens"))
      .select(col("pack_id"), col("n_docs"), col("n_tokens"),
        col("oversize"), col("tokens"))
  }

  /** Order-independent 64-bit row digest from the md5 `rank` hex: the
    * integer value of its first 8 hex digits (engine-portable pure
    * arithmetic on substrings — no conv()/from_hex, which differ
    * across engines). Summing these per shard gives a MERGEABLE,
    * BOUNDED-STATE checksum (one long per shard, map-side combinable)
    * — the scale-correct alternative to hashing a sorted
    * concatenation of all member ranks, whose aggregation state grows
    * with shard size. */
  private[llm] def rankDigest(rank: Column): Column =
    (1 to 8).map { i =>
      (instr(lit("0123456789abcdef"), substring(rank, i, 1)) - 1) *
        (1L << (4 * (8 - i)))
    }.reduce(_ + _).cast("long")

  /** Write the corpus as trainer-ready shards + an audit manifest.
    *
    * Layout: parquet part-files under `dir/data/shard=N/` ([[graft.sinks.Sinks.writeShards]]
    * — one directory per shard; a data loader maps worker k to shard k
    * and reads its directory with partition pruning, see [[readShard]])
    * and `dir/manifest/` (tiny: one row per shard with `n_rows`, the
    * summed [[rankDigest]] `checksum`, and the min/max member rank for
    * spot audits).
    *
    * The manifest is computed by RE-READING the written files — it
    * certifies what landed on disk, not what was intended — via a
    * bounded-state aggregation (no per-shard collect). Returns the
    * manifest. */
  def writeTrainingShards(df: DataFrame, idCol: String, dir: String,
                          nShards: Int): DataFrame = {
    import org.apache.spark.sql.SaveMode
    val spark = df.sparkSession
    graft.sinks.Sinks.writeShards(df, idCol, s"$dir/data", nShards)
    val manifest = spark.read.parquet(s"$dir/data")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(rankDigest(col("rank"))).as("checksum"),
        min(col("rank")).as("min_rank"), max(col("rank")).as("max_rank"))
    manifest.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/manifest")
    spark.read.parquet(s"$dir/manifest")
  }

  /** Partition-pruned single-shard read — the per-worker data-loader
    * load. The `shard = k` filter prunes to one `shard=N` directory at
    * planning time (PartitionFilters, zero IO on the other shards);
    * PackingSpec pins the pruned-scan shape. */
  def readShard(spark: org.apache.spark.sql.SparkSession, dir: String,
                shard: Int): DataFrame =
    spark.read.parquet(s"$dir/data").where(col("shard") === shard)

  /** Read-only shard integrity audit — the pre-training counterpart of
    * the materialize drift guards (which FAIL a run in flight; this
    * REPORTS on a resting layout). Re-derives the manifest aggregates
    * from the on-disk `dir/data` files and full-outer-diffs them
    * against `dir/manifest`, one row per shard:
    *
    *  - `ok`         — every certified field matches what's on disk;
    *  - `missing`    — manifest row with no data partition (lost/
    *                   deleted `shard=N` directory);
    *  - `unexpected` — data partition with no manifest row (stray
    *                   write, crash between shard write and manifest
    *                   splice);
    *  - `mismatch`   — both present but rows/checksum/rank-range
    *                   drifted (truncated part-file, bit-rot, stale
    *                   manifest).
    *
    * Scale shape: ONE bounded-state aggregation over the data files
    * (the same mergeable [[rankDigest]] sum the writer certified — a
    * long per shard, map-side combinable) and a one-row-per-shard
    * full-outer join; no payload columns leave the scan, no collect.
    * Run it at epoch boundaries or after [[refreshRetractedShards]];
    * at 100 TB the cost is the pruned two-column data scan. */
  def auditShards(spark: org.apache.spark.sql.SparkSession,
                  dir: String): DataFrame = {
    val expected = spark.read.parquet(s"$dir/manifest")
      .select(col("shard").cast("long").as("shard"),
        col("n_rows").as("manifest_rows"),
        col("checksum").as("manifest_checksum"),
        col("min_rank").as("manifest_min_rank"),
        col("max_rank").as("manifest_max_rank"))
    // a data dir with no files at all (every shard partition lost) is
    // still a REPORT, not a read failure — parquet schema inference
    // would otherwise throw before the diff could say "missing"
    val dataPath = new org.apache.hadoop.fs.Path(s"$dir/data")
    val fs = dataPath.getFileSystem(spark.sessionState.newHadoopConf())
    val hasFiles = fs.exists(dataPath) &&
      fs.listStatus(dataPath).exists(st =>
        st.isDirectory || st.getPath.getName.endsWith(".parquet"))
    val foundSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("data_rows",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("data_checksum",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("data_min_rank",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("data_max_rank",
        org.apache.spark.sql.types.StringType)))
    val found = if (!hasFiles)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], foundSchema)
    else spark.read.parquet(s"$dir/data")
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("data_rows"),
        sum(rankDigest(col("rank"))).as("data_checksum"),
        min(col("rank")).as("data_min_rank"),
        max(col("rank")).as("data_max_rank"))
    expected.join(found, Seq("shard"), "full_outer")
      .withColumn("status",
        when(col("manifest_rows").isNull, lit("unexpected"))
          .when(col("data_rows").isNull, lit("missing"))
          .when(col("manifest_rows") === col("data_rows") &&
            col("manifest_checksum") === col("data_checksum") &&
            col("manifest_min_rank") === col("data_min_rank") &&
            col("manifest_max_rank") === col("data_max_rank"), lit("ok"))
          .otherwise(lit("mismatch")))
  }

  /** In-Context-Pretraining document ordering (Shi et al. 2023): a
    * greedy nearest-neighbor traversal of the document similarity
    * graph, so that packing in the returned order builds context
    * windows of RELATED documents instead of id-adjacent ones — the
    * published recipe's measured win comes entirely from this
    * ordering; the packing itself is the existing machinery
    * ([[packByScore]] on `semantic_rank`, or `pack_curriculum` config-
    * side).
    *
    * Distributed shape: the traversal is sequential, so the corpus is
    * cut into bounded GROUPS of `docsPerGroup` consecutive docs (the
    * [[packGreedy]] two-phase prefix machinery, reused verbatim) and
    * each group chains independently through the native O(G²·dim)
    * `graft_semantic_chain` kernel — per-row cost a constant, no
    * group ever exceeds `docsPerGroup` embeddings in memory. The
    * approximation vs one global chain: no edge crosses a group
    * boundary — exactly the trade [[packGreedy]] documents, and at
    * ICLM's published scale the graph is approximate anyway (their
    * kNN graph comes from an ANN index). Pre-cluster upstream (zorder
    * or the IVF assignment) to make id-adjacent groups semantically
    * coherent before chaining.
    *
    * @return (doc_id, grp, pos, semantic_rank) — `semantic_rank` =
    *         grp * docsPerGroup + pos, non-negative and dense enough
    *         for [[packByScore]] */
  def semanticChainOrder(df: DataFrame, idCol: String = "doc_id",
                         vecCol: String = "embedding",
                         docsPerGroup: Int = 64,
                         numParts: Int = 0): DataFrame = {
    require(docsPerGroup > 0,
      s"semanticChainOrder: docsPerGroup must be positive, got $docsPerGroup")
    val spark = df.sparkSession
    graft.plans.GraftExtensions.register(spark)
    val n = if (numParts > 0) numParts
      else spark.sessionState.conf.numShufflePartitions
    val base = df.select(col(idCol).as("doc_id"),
        col(vecCol).cast("array<double>").as("__v"))
      .repartitionByRange(n, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val wPart = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val counts = base.groupBy(col("__pid")).agg(count(lit(1)).as("__pcnt"))
      .withColumn("__poff", coalesce(sum(col("__pcnt")).over(wPart), lit(0L)))
      .select(col("__pid"), col("__poff"))
    val wLocal = Window.partitionBy(col("__pid")).orderBy(col("doc_id"))
    val rn = base.join(broadcast(counts), Seq("__pid"))
      .withColumn("__rn",
        col("__poff") + row_number().over(wLocal).cast("long") - 1)
      .withColumn("__grp", floor(col("__rn") / docsPerGroup).cast("long"))
    rn.groupBy(col("__grp"))
      .agg(sort_array(collect_list(
        struct(col("__rn"), col("doc_id"), col("__v")))).as("ms"))
      .withColumn("__chain",
        expr("graft_semantic_chain(transform(ms, m -> m.__v))"))
      .select(col("__grp"),
        explode(arrays_zip(col("ms"), col("__chain"))).as("z"))
      .select(col("z.ms.doc_id").as("doc_id"),
        col("__grp").as("grp"),
        col("z.__chain").cast("long").as("pos"),
        (col("__grp") * docsPerGroup + col("z.__chain").cast("long"))
          .as("semantic_rank"))
  }

  /** PER-PHASE SHARD GENERATIONS — the epoch-phase mix schedule
    * ([[Mixing.phasedMixSchedule]]) composed into the shard product a
    * phased trainer run actually consumes: each phase's admitted docs
    * pack ([[packSequences]]) and materialize into certified training
    * shards under their own zero-padded generation directory
    * (`dir/phase-0000`, `dir/phase-0001`, … — the index-lifecycle
    * naming; a phase's shards never overwrite another's, and the
    * trainer walks generations in phase order). The schedule is
    * computed ONCE (one shares aggregation + one sampled scan per
    * phase); each phase then pays its own pack prefix-sum and
    * materialization over ONLY its admitted rows. Returns the
    * per-(phase, shard) summary: the re-read certified manifest
    * joined with a re-aggregation of the written pack data —
    * the same audit frame the single-phase product returns, with the
    * phase dimension in front. */
  def phasedShards(docs: DataFrame, idCol: String, textCol: String,
                   domainCol: String, phases: Seq[Mixing.MixPhase],
                   packBudget: Long, dir: String, nShards: Int,
                   salt: String = "graft"): DataFrame = {
    require(packBudget > 0,
      s"phasedShards: packBudget must be positive, got $packBudget")
    require(nShards >= 1,
      s"phasedShards: nShards must be >= 1, got $nShards")
    val spark = docs.sparkSession
    // null-safe whitespace tokens: the count feeds the pack prefix
    // sum, the array feeds the shard materialization (which re-checks
    // count vs assignment — the store-drift guard)
    val tokArr = filter(split(trim(coalesce(col(textCol), lit(""))),
      "\\s+"), w => w =!= "")
    val tokCount = size(tokArr).cast("long")
    val sched = Mixing.phasedMixSchedule(docs, idCol, textCol, domainCol,
      phases, salt).localCheckpoint()
    // phases are independent once the schedule is materialized (each
    // reads the checkpointed schedule + docs and owns a disjoint
    // generation dir) — build them CONCURRENTLY (optimization guide
    // §2.6: overlap independent jobs; the sequential form measured
    // ~40% inter-job driver gaps) and union in phase order, so the
    // result is identical to the sequential composition
    val frames = new Array[DataFrame](phases.size)
    Par.group(math.min(phases.size, 4)) { g =>
      phases.zipWithIndex.foreach { case (p, i) =>
        g.submit {
          val gen = f"$dir/phase-$i%04d"
          val member = sched.where(col("phase_idx") === i)
            .select(col("doc_id").as("__pm"))
          val phaseDocs = docs.join(member, docs(idCol) === col("__pm"))
            .drop("__pm").localCheckpoint()
          packSequences(phaseDocs, idCol, tokCount, packBudget)
            .write.mode("overwrite").parquet(s"$gen/assignment")
          materializeShardsFromAssignment(spark, s"$gen/assignment",
            phaseDocs, idCol, tokArr, s"$gen/shards", nShards)
          val manifest = spark.read.parquet(s"$gen/shards/manifest")
          val data = spark.read.parquet(s"$gen/shards/data")
            .groupBy(col("shard").cast("long").as("shard"))
            .agg(sum(col("n_tokens")).as("sum_tokens"),
              sum(col("n_docs")).as("sum_docs"))
          frames(i) = manifest.join(data, Seq("shard"))
            .select(lit(i.toLong).as("phase_idx"), lit(p.name).as("phase"),
              col("*"))
        }
      }
    }
    frames.reduce(_ unionByName _)
  }
}
