package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{NamedQuery, Tables}

/** Dataset-assembly operators over `documents` — the steps between a
  * cleaned corpus and a training run:
  *
  *  - [[splitAssign]] — deterministic hash-based train/val/test assignment.
  *    A pure projection (hash of the stable key, no RNG, no shuffle):
  *    the assignment is reproducible across runs/engines and stable
  *    under corpus growth — adding documents never moves existing ones
  *    between splits, the property that keeps eval sets uncontaminated
  *    across dataset versions.
  *  - [[pack]] — contiguous-fill sequence packing: per language, docs in
  *    stable order accumulate into fixed token-budget bins (the context-
  *    window packing a pretraining run does). One window over (lang) —
  *    equivalently a shuffle by the packing block key; the bin id is a
  *    running-sum division, so packing is deterministic and restartable.
  *  - [[decontaminate]] — n-gram overlap flagging against a benchmark
  *    set: any document sharing an 8-word shingle with a benchmark doc
  *    is flagged. Shingle hashes equi-join (bucket-bounded, like every
  *    near-dup op here); the benchmark side is tiny and broadcasts. At
  *    100 TB this is the standard eval-leakage sweep (shingle the
  *    benchmarks once, broadcast, one pass over the corpus).
  *  - [[decontaminateBloom]] — same semantics with a bloom prefilter:
  *    Spark's own runtime-filter expressions ([[BloomFilterAggregate]]
  *    / [[BloomFilterMightContain]], both codegen'd — the machinery
  *    behind `spark.sql.optimizer.runtime.bloomFilter`) are applied
  *    explicitly. The benchmark shingles aggregate into one compact
  *    bitmap on the driver (a sketch, not data); corpus shingles pass
  *    through `might_contain` BEFORE the exact-confirm join. Exact
  *    output is unchanged (no false negatives; the join removes false
  *    positives), but the join's probe side shrinks from every corpus
  *    shingle to true matches + fpp — the difference between shuffling
  *    100 TB of shingles and shuffling megabytes when the benchmark
  *    set outgrows the broadcast threshold.
  *  - [[chunkOverlap]] — RAG/context-window chunking: overlapping
  *    word windows (64 words, stride 48) per document. A pure
  *    projection + explode — no shuffle, fully pipelined; chunk count
  *    derives from integer arithmetic so the layout is deterministic
  *    and engine-portable.
  */
object PipelineQueries {

  def queries: Vector[NamedQuery] = Vector(
    NamedQuery("pipeline_split_assign", splitAssign, Some(splitSql)),
    NamedQuery("pipeline_pack_sequences", pack, Some(packSql)),
    NamedQuery("pipeline_decontaminate", decontaminate, Some(decontaminateSql)),
    NamedQuery("pipeline_decontaminate_bloom", decontaminateBloom, Some(decontaminateSql)),
    NamedQuery("pipeline_chunk_overlap", chunkOverlap, Some(chunkOverlapSql)),
    NamedQuery("pipeline_curate_corpus", curateCorpus, Some(curateCorpusSql)),
    NamedQuery("pipeline_incremental_dedup", incrementalDedup, Some(incrementalDedupSql)),
    NamedQuery("pipeline_incremental_neardup", incrementalNearDup, Some(incrementalNearDupSql)),
    NamedQuery("pipeline_neardup_confirmed", nearDupConfirmed, Some(nearDupConfirmedSql)),
  )

  // ---------------------------------------------------------------
  // 90/5/5 split from the first 8 md5 hex chars of the doc id — the
  // same engine-portable hash-slice trick as minhash/simhash.
  private def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10) AS bigint) % 100")
          .as("bucket"))
      .select(col("doc_id"),
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))

  private val splitSql =
    """WITH b AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
      |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Contiguous-fill packing into 512-token bins per language: bin id =
  // (tokens before me in stable order) div budget; the offset is where
  // this doc starts inside its bin's running stream.
  private def pack(spark: SparkSession, dir: String): DataFrame = {
    val budget = 512L
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_after", sum(col("n_tokens")).over(w))
      .withColumn("before", col("cum_after") - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"before div $budget").as("bin"),
        expr(s"before % $budget").as("bin_offset"))
      .orderBy(col("doc_id"))
  }

  private val packSql =
    """WITH t AS (
      |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, lang, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS before
      |  FROM t
      |)
      |SELECT doc_id, lang, n_tokens,
      |  CAST(before // 512 AS BIGINT) AS bin,
      |  CAST(before % 512 AS BIGINT) AS bin_offset
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Benchmark stand-in: every 97th document. A doc is contaminated if
  // it shares any 8-word shingle with a DIFFERENT benchmark doc.
  /** Per-doc contamination flags (doc_id, contaminated) — the shared
    * core of [[decontaminate]] and [[curateCorpus]]. */
  private def contaminationFlags(docs: DataFrame): DataFrame = {
    def shingles(df: DataFrame): DataFrame = df
      .withColumn("ws", org.apache.spark.sql.functions.split(col("text"), " "))
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws)-8), i -> md5(concat_ws(' ', slice(ws, i+1, 8))))")).as("sh"))
    val bench = shingles(docs.filter(col("doc_id") % 97 === 0))
      .select(col("doc_id").as("b_id"), col("sh"))
    val hits = shingles(docs)
      .join(broadcast(bench), Seq("sh"))
      .filter(col("doc_id") =!= col("b_id"))
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    // the flagged-id set is bounded by the benchmark's match reach —
    // small; broadcast it so the corpus side never shuffles
    docs.select(col("doc_id")).join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("contaminated"), lit(false)).as("contaminated"))
  }

  private def decontaminate(spark: SparkSession, dir: String): DataFrame =
    contaminationFlags(Tables.table(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------
  // Bloom-prefiltered decontamination: identical output to
  // `decontaminate` (same oracle SQL), different plan. The benchmark
  // shingle set folds into one BloomFilter binary via Spark's
  // runtime-filter aggregate (xxhash64 keying on both sides, as
  // InjectRuntimeFilter does); the corpus side is prefiltered by the
  // codegen'd might_contain before the exact-confirm join.
  private def bloomAgg(c: Column, expectedItems: Long): Column =
    GraftColumnBridge.column(new BloomFilterAggregate(
      new XxHash64(Seq(GraftColumnBridge.expression(c))), expectedItems)
      .toAggregateExpression())

  private def mightContain(bloomBytes: Array[Byte], c: Column): Column =
    GraftColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes),
      new XxHash64(Seq(GraftColumnBridge.expression(c)))))

  private def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    def shingles(df: DataFrame): DataFrame = df
      .withColumn("ws", org.apache.spark.sql.functions.split(col("text"), " "))
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws)-8), i -> md5(concat_ws(' ', slice(ws, i+1, 8))))")).as("sh"))
    val bench = shingles(docs.filter(col("doc_id") % 97 === 0))
      .select(col("doc_id").as("b_id"), col("sh"))
    // One compact bitmap on the driver (~1.2 MB at 1M items / 3% fpp);
    // at scale this is a broadcast variable, never a data collect.
    val bloom: Array[Byte] =
      bench.agg(bloomAgg(col("sh"), 1L << 20).as("bf")).head().getAs[Array[Byte]](0)
    // an empty benchmark side folds to a null bloom: nothing can be
    // contaminated, and the empty confirm join already yields that
    val pre: Column = if (bloom == null) lit(true) else mightContain(bloom, col("sh"))
    val hits = shingles(docs)
      .filter(pre)
      .join(broadcast(bench), Seq("sh"))
      .filter(col("doc_id") =!= col("b_id"))
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    docs.select(col("doc_id")).join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // Overlapping chunking: windows of 64 words at stride 48. Chunk
  // count from integer math — ceil((n-64)/48)+1 for n>64, else 1 —
  // so both engines lay out identical chunks; the final chunk is the
  // only one allowed to be short.
  private def chunkOverlap(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .withColumn("ws", org.apache.spark.sql.functions.split(col("text"), " "))
      .withColumn("n", size(col("ws")).cast("long"))
      .withColumn("nc",
        when(col("n") <= 64L, 1L)
          .otherwise(expr("(n - 64 + 47) div 48") + 1L))
      .select(col("doc_id"), col("ws"), col("n"),
        explode(expr("sequence(0L, nc - 1)")).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * 48L).as("start_word"),
        least(lit(64L), col("n") - col("chunk_idx") * 48L).as("n_words"),
        md5(concat_ws(" ",
          expr("slice(ws, cast(chunk_idx*48+1 AS int), cast(least(64L, n - chunk_idx*48) AS int))")))
          .as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  // ---------------------------------------------------------------
  // The composed corpus-curation decision table: what an actual
  // pretraining data pipeline runs as its final selection pass. One
  // scan fans out into three per-doc decisions and re-joins on doc_id:
  //  - is_canonical: exact-dedup survivor (min doc_id per content
  //    hash) — one hash shuffle on md5(text);
  //  - quality_ok: the Gopher repetition gate — per-row, zero shuffle
  //    (NULL fracs on degenerate docs degrade to false);
  //  - contaminated: benchmark shingle overlap — broadcast joins only;
  //  - within_source_cap: among docs passing the three content gates,
  //    each source's first `CurateSourceCap` by doc_id (the
  //    pipeline_source_cap host-flood guard applied POST-cleaning, the
  //    order real pipelines cap in) — one more hash exchange on
  //    source, WindowGroupLimit-friendly.
  // selected = canonical AND quality AND clean AND within cap. Every
  // step is a harness query in its own right; this pins their
  // composition.
  private[llm] val CurateSourceCap = 15

  private def curateCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val canon = docs.select(col("doc_id"),
      (col("doc_id") === min(col("doc_id"))
        .over(Window.partitionBy(md5(col("text"))))).as("is_canonical"))
    val quality = CurationQueries.gopherGate(docs)
      .select(col("doc_id"), coalesce(col("keep"), lit(false)).as("quality_ok"))
    val cont = contaminationFlags(docs)
    val gated = canon
      .join(quality, Seq("doc_id"))
      .join(cont, Seq("doc_id"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("pass",
        col("is_canonical") && col("quality_ok") && !col("contaminated"))
    // rank ONLY the gate-passing docs within their source: partitioning
    // by (source, pass) makes row_number count pass rows alone
    val wCap = Window.partitionBy(col("source"), col("pass")).orderBy(col("doc_id"))
    gated
      .withColumn("within_source_cap",
        col("pass") && row_number().over(wCap) <= CurateSourceCap)
      .select(col("doc_id"), col("is_canonical"), col("quality_ok"), col("contaminated"),
        col("within_source_cap"),
        col("within_source_cap").as("selected"))
      .orderBy(col("doc_id"))
  }

  private val curateCorpusSql =
    """WITH canon AS (
      |  SELECT doc_id,
      |    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
      |  FROM documents
      |), gt AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |    list_transform(range(1, len(string_split(text, ' '))),
      |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]) AS bg
      |  FROM documents
      |), gm AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
      |    CAST(list_max(list_transform(list_distinct(ws), d -> len(list_filter(ws, x -> x = d)))) AS BIGINT) AS max_word,
      |    CAST(list_max(list_transform(list_distinct(bg), d -> len(list_filter(bg, x -> x = d)))) AS BIGINT) AS max_bigram,
      |    CAST(round(CAST(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS DECIMAL(18,8)), 4) AS DOUBLE) AS dup_word_frac
      |  FROM gt
      |), gq AS (
      |  SELECT doc_id, coalesce(
      |    dup_word_frac <= 0.8
      |    AND CAST(round(CAST(CAST(max_word AS DOUBLE) / n_words AS DECIMAL(18,8)), 4) AS DOUBLE) <= 0.2
      |    AND CAST(round(CAST(CAST(max_bigram AS DOUBLE) / (n_words - 1) AS DECIMAL(18,8)), 4) AS DOUBLE) <= 0.18,
      |    false) AS quality_ok
      |  FROM gm
      |), ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8
      |), sh AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
      |    i -> md5(list_aggregate(w[i:i+7], 'string_agg', ' ')))) AS sh
      |  FROM ws
      |), hits AS (
      |  SELECT DISTINCT s.doc_id
      |  FROM sh s JOIN (SELECT * FROM sh WHERE doc_id % 97 = 0) b
      |    ON s.sh = b.sh AND s.doc_id <> b.doc_id
      |), gated AS (
      |  SELECT d.doc_id, d.source, c.is_canonical, g.quality_ok,
      |    (h.doc_id IS NOT NULL) AS contaminated,
      |    (c.is_canonical AND g.quality_ok AND h.doc_id IS NULL) AS pass
      |  FROM documents d
      |  JOIN canon c ON d.doc_id = c.doc_id
      |  JOIN gq g ON d.doc_id = g.doc_id
      |  LEFT JOIN hits h ON d.doc_id = h.doc_id
      |), capped AS (
      |  SELECT *, pass AND row_number() OVER (
      |    PARTITION BY source, pass ORDER BY doc_id) <= 15 AS within_source_cap
      |  FROM gated
      |)
      |SELECT doc_id, is_canonical, quality_ok, contaminated,
      |  within_source_cap, within_source_cap AS selected
      |FROM capped
      |ORDER BY doc_id""".stripMargin

  private val chunkOverlapSql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, w, n,
      |    CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS nc
      |  FROM t
      |), e AS (
      |  SELECT doc_id, w, n, unnest(range(0, nc)) AS chunk_idx FROM c
      |)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |  CAST(chunk_idx * 48 AS BIGINT) AS start_word,
      |  CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS n_words,
      |  md5(list_aggregate(w[chunk_idx*48+1 : chunk_idx*48 + least(64, n - chunk_idx*48)],
      |    'string_agg', ' ')) AS chunk_hash
      |FROM e ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------
  // Incremental dedup: the PRODUCTION dedup shape — a new crawl batch
  // arrives and must drop anything already in the (100 TB) archive,
  // WITHOUT reshuffling the archive. The join direction is inverted
  // from the naive form: the small batch's content hashes broadcast,
  // the archive streams map-side against them (its scan never
  // exchanges — plan-asserted), and only the resulting tiny hit set
  // joins back to the batch. The harness models the split as
  // doc_id % 10 = 0 → "new batch", rest → archive; output = every
  // batch doc flagged novel/duplicate. Bloom pre-filters slot in the
  // same way when the batch outgrows the broadcast threshold
  // (pipeline_decontaminate_bloom is that machinery).
  private def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
      .withColumn("h", md5(col("text")))
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val archive = docs.filter(col("doc_id") % 10 =!= 0)
    // archive probes the BROADCAST batch hashes: no archive shuffle
    val hits = archive
      .join(broadcast(batch.select(col("h")).distinct()), Seq("h"))
      .select(col("h")).distinct()
    batch
      .join(broadcast(hits.withColumn("dup", lit(true))), Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("dup"), lit(false)).as("duplicate"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // Incremental NEAR-dup against the archive — the production
  // crawl-ingest shape pipeline_incremental_dedup covers for exact
  // hashes, extended to MinHash/LSH: a new batch must drop anything
  // NEAR-duplicating the (100 TB) archive, without re-signaturing or
  // reshuffling the archive. The archive's (doc_id, band, bucket)
  // posting rows live in a persisted sidecar ([[MinHashIndexStore]],
  // built once per archive snapshot, pointer-swapped, restart = zero
  // re-index jobs); per batch only the BATCH's signatures are
  // computed (O(batch)), broadcast, and the archive index streams
  // map-side against them — the index scan never exchanges
  // (plan-asserted, the incremental_dedup discipline). A batch doc is
  // near-dup iff it shares any LSH band bucket with an archive doc
  // (the dedup_minhash_pairs candidate criterion); docs under 3 words
  // carry no signature and report false.
  private def incrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val archiveIdx = MinHashIndexStore.loadOrBuild(spark, dir)
    val batch = Tables.table(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val batchBands = DedupQueries.bandRows(batch.select(col("doc_id"), col("text")))
      .withColumnRenamed("doc_id", "b_id")
    // archive index probes the BROADCAST batch bands: no index shuffle
    val hits = archiveIdx
      .join(broadcast(batchBands), Seq("band", "bucket"))
      .select(col("b_id").as("doc_id")).distinct()
    batch.select(col("doc_id"))
      .join(broadcast(hits.withColumn("near_dup", lit(true))), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("near_dup"), lit(false)).as("near_dup"))
      .orderBy(col("doc_id"))
  }

  // the oracle recomputes both sides' signatures inline (the
  // LSH-planes precedent): the shared minhash CTE chain feeds a
  // batch-vs-archive bucket join split on the doc_id % 10 harness seam
  private val incrementalNearDupSql =
    s"""WITH ${DedupQueries.minhashCtes}, hits AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM bands b JOIN bands a ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE b.doc_id % 10 = 0 AND a.doc_id % 10 <> 0
       |)
       |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS near_dup
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
       |LEFT JOIN hits h ON d.doc_id = h.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // The full production ingest shape: LSH candidates → EXACT confirm.
  // pipeline_incremental_neardup flags bucket collisions; this query
  // verifies each candidate pair with exact word-set jaccard before
  // the batch doc is declared a duplicate — LSH-then-verify, the
  // two-stage discipline every real near-dup pipeline runs (candidates
  // bound the quadratic, the verifier restores precision).
  //
  // Scale shape: candidates come off the sidecar index map-side (the
  // incremental_neardup plan); the confirm stage touches ONLY hit
  // docs — archive text is fetched through a broadcast semi-join on
  // the (tiny) hit-id set, so the archive scan still never shuffles,
  // and the per-pair intersection joins words THROUGH the broadcast
  // pair list (batch-side words carry the pair fan-out; archive words
  // only exist for hit docs). Verify cost is O(candidates · doc len),
  // not O(batch · archive).
  private def nearDupConfirmed(spark: SparkSession, dir: String): DataFrame = {
    val archiveIdx = MinHashIndexStore.loadOrBuild(spark, dir)
    val docs = Tables.table(spark, dir, "documents")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val batchBands = DedupQueries.bandRows(batch.select(col("doc_id"), col("text")))
      .withColumnRenamed("doc_id", "b_id")
    // candidate pairs are batch-bounded (|batch| × band collisions) and
    // consumed FOUR times below (inter, both hit-id sets, perDoc) — left
    // lazy, each consumer re-shingled the batch and re-scanned the
    // sidecar; pin once (guide §5)
    val pairs = archiveIdx
      .join(broadcast(batchBands), Seq("band", "bucket"))
      .select(col("b_id"), col("doc_id").as("a_id")).distinct()
      .localCheckpoint()
    // exact confirm on candidate pairs only: each hit population's
    // word arrays materialize ONCE (localCheckpoint — candidate-
    // bounded tiny, and it caps the archive at a single text-column
    // scan), then words and sizes both derive from the materialized
    // frame instead of re-scanning the corpus per use
    def hitWords(df: DataFrame, ids: DataFrame, idAs: String) = df
      .join(broadcast(ids.toDF("doc_id")), Seq("doc_id"))
      .select(col("doc_id").as(idAs),
        array_distinct(split(col("text"), " ")).as("ws"))
      .localCheckpoint()
    val archW = hitWords(docs.filter(col("doc_id") % 10 =!= 0),
      pairs.select(col("a_id")).distinct(), "a2")
    val batchW = hitWords(batch, pairs.select(col("b_id")).distinct(), "b_id")
    // the word-overlap join runs on two candidate-bounded exploded
    // frames; the checkpointed archW carries no size statistic, so the
    // planner fell back to SortMergeJoin — broadcast is the right
    // strategy for a normal hit population (A/B'd at sf10: 9.35 s
    // broadcast vs 9.97 SMJ), but the hit-word count is
    // O(candidates · doc len) and candidates scale with the batch, so
    // the hint is GUARDED in bytes by one cheap aggregate over the
    // checkpointed archW: the exploded rows' size (24 bytes of row
    // header, id and string slot per word, plus the word bytes) against
    // the session's autoBroadcastJoinThreshold, so a storm batch whose
    // hit words outgrow it falls back to the planner instead of OOMing
    // every executor.
    val archWords = archW.select(col("a2"), explode(col("ws")).as("w2"))
    val archBytes = archW
      .agg(coalesce(sum(size(col("ws")) * 24L + octet_length(array_join(col("ws"), ""))), lit(0L)))
      .head().getLong(0)
    val archSide =
      if (archBytes <= spark.sessionState.conf.autoBroadcastJoinThreshold) broadcast(archWords)
      else archWords
    val inter = batchW.select(col("b_id"), explode(col("ws")).as("w"))
      .join(broadcast(pairs), Seq("b_id"))
      .join(archSide, col("a_id") === col("a2") && col("w") === col("w2"))
      .groupBy(col("b_id"), col("a_id")).agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(broadcast(batchW.select(col("b_id"), size(col("ws")).as("sb"))), Seq("b_id"))
      .join(broadcast(archW.select(col("a2").as("a_id"), size(col("ws")).as("sa"))), Seq("a_id"))
      .withColumn("jaccard", graft.ops.Registry.rnd(
        col("inter").cast("double") / (col("sa") + col("sb") - col("inter")), 4))
    val perDoc = pairs.groupBy(col("b_id")).agg(count(lit(1)).as("n_candidates"))
      .join(broadcast(scored.groupBy(col("b_id")).agg(max(col("jaccard")).as("best_jaccard"))),
        Seq("b_id"), "left")
    batch.select(col("doc_id"))
      .join(broadcast(perDoc.withColumnRenamed("b_id", "doc_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("best_jaccard"),
        coalesce(col("best_jaccard") >= 0.5, lit(false)).as("confirmed_dup"))
      .orderBy(col("doc_id"))
  }

  private val nearDupConfirmedSql =
    s"""WITH ${DedupQueries.minhashCtes}, cand AS (
       |  SELECT DISTINCT b.doc_id AS b_id, a.doc_id AS a_id
       |  FROM bands b JOIN bands a ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE b.doc_id % 10 = 0 AND a.doc_id % 10 <> 0
       |), wsets AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents
       |), sizes AS (
       |  SELECT doc_id, len(list_distinct(string_split(text, ' '))) AS sz
       |  FROM documents
       |), inter AS (
       |  SELECT c.b_id, c.a_id, count(*) AS inter
       |  FROM cand c
       |  JOIN wsets wb ON wb.doc_id = c.b_id
       |  JOIN wsets wa ON wa.doc_id = c.a_id AND wa.w = wb.w
       |  GROUP BY c.b_id, c.a_id
       |), scored AS (
       |  SELECT i.b_id,
       |    CAST(round(CAST(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter)
       |      AS DECIMAL(18,8)), 4) AS DOUBLE) AS jaccard
       |  FROM inter i
       |  JOIN sizes sb ON sb.doc_id = i.b_id
       |  JOIN sizes sa ON sa.doc_id = i.a_id
       |), per_doc AS (
       |  SELECT c.b_id, CAST(count(*) AS BIGINT) AS n_candidates
       |  FROM cand c GROUP BY c.b_id
       |), best AS (
       |  SELECT b_id, max(jaccard) AS best_jaccard FROM scored GROUP BY b_id
       |)
       |SELECT d.doc_id,
       |  coalesce(p.n_candidates, 0) AS n_candidates,
       |  b.best_jaccard,
       |  coalesce(b.best_jaccard >= 0.5, false) AS confirmed_dup
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
       |LEFT JOIN per_doc p ON p.b_id = d.doc_id
       |LEFT JOIN best b ON b.b_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private val incrementalDedupSql =
    """WITH d AS (
      |  SELECT doc_id, md5(text) AS h FROM documents
      |), batch AS (SELECT * FROM d WHERE doc_id % 10 = 0
      |), archive AS (SELECT * FROM d WHERE doc_id % 10 <> 0
      |), hits AS (
      |  SELECT DISTINCT a.h FROM archive a JOIN (SELECT DISTINCT h FROM batch) b USING (h)
      |)
      |SELECT b.doc_id, (hits.h IS NOT NULL) AS duplicate
      |FROM batch b LEFT JOIN hits ON b.h = hits.h
      |ORDER BY b.doc_id""".stripMargin

  private val decontaminateSql =
    """WITH ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8
      |), sh AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-7),
      |    i -> md5(list_aggregate(w[i:i+7], 'string_agg', ' ')))) AS sh
      |  FROM ws
      |), hits AS (
      |  SELECT DISTINCT s.doc_id
      |  FROM sh s JOIN (SELECT * FROM sh WHERE doc_id % 97 = 0) b
      |    ON s.sh = b.sh AND s.doc_id <> b.doc_id
      |)
      |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
      |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      |ORDER BY d.doc_id""".stripMargin
}
