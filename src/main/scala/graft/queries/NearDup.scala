package graft.queries

import graft.{Sizing, Tables}
import graft.functions.CosineSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection over the documents corpus (SURVEY.md §2.9 L2 +
  * the training-data dedup mandate): MinHash-LSH bands generate candidates;
  * the three variants differ in the verify kernel (exact shingle Jaccard,
  * SimHash hamming, exact word-bigram Jaccard).
  *
  * All hashing is portable mod-arithmetic (polynomial char hash mod 1e9+7,
  * token-hash shingle combination, affine MinHash permutations) so DuckDB
  * replays the EXACT candidate generation — these are full hash-checked
  * oracles, not rows-only approximations.
  *
  * Scale shape (the 100 TB story): every variant is
  *   per-doc signature (map-side, linear — tokens hashed once, shingles
  *     combined arithmetically from token hashes, signatures CACHED so
  *     self-join branches don't recompute the pipeline)
  *   → explode to (band, signature) keys
  *   → self-join on the band key (hash shuffle, bucket-sized work)
  *   → DISTINCT candidate pairs
  *   → cheap signature-level pre-filter (minhash agreement / size ratio /
  *     hamming) → exact verification on the survivors only.
  * No all-pairs product ever materializes. Candidate cardinality per
  * variant:
  *   - MinHash bands (dedup_minhash AND dedup_ngram_jaccard, which shares
  *     the generator): band keys are content-derived values mod 1e9+7, so
  *     bucket count grows with the corpus — the per-bucket pair count stays
  *     bounded by actual similarity structure, never by a fixed divisor.
  *     Band width tunes the S-curve: more rows/band = fewer false
  *     candidates, lower recall.
  *   - SimHash blocks (dedup_simhash): 64-bit signature, 4 blocks ×
  *     2^16 values — the standard Manku-et-al trade (hamming ≤ 3 ⇒ one
  *     block intact). The key space is bounded but wide: 65 536 buckets
  *     per block position keep per-bucket pair counts flat well past the
  *     fixture scale, and the verify is a single O(1) bit_count per pair;
  *     at 1e9+ docs, add a block permutation table (more positions) rather
  *     than widening further.
  */
object NearDup {
  type Q = (SparkSession, String) => DataFrame

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Both CC loops silently returning NON-converged labels on a graph
    * deeper than their round cap would be a wrong-answer-without-error —
    * surface it loudly (ADVICE r5). A warning, not a throw: partial labels
    * still over-merge nothing (they under-merge), and the caller may
    * legitimately cap rounds for latency; but the signal must exist. */
  private def warnIfNotConverged(done: Boolean, algo: String, rounds: Int): Unit =
    if (!done) log.warn(
      s"$algo hit its $rounds-round cap WITHOUT converging - returned labels " +
        "may split true components; raise maxRounds or (for label " +
        "propagation on a deep graph) switch to starContraction")

  private def duckPoly(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(length($s)), j -> CAST(ascii($s[j+1]) AS BIGINT))), " +
      s"(h, c) -> (h * 31 + c) % 1000000007)"

  /** documents → (doc_id, n_chars, toks, tokh): tokens + their char
    * hashes, MATERIALIZED. Two reasons this must be its own cached stage,
    * both measured at sf0.1:
    *  - the fixture tables are single parquet files = one input split; the
    *    repartition spreads the expensive hashing across the cluster (at
    *    real scale the source is already many-splits);
    *  - every downstream expression that references a DERIVED column gets
    *    that column's expression INLINED by CollapseProject — the shingle
    *    combine indexes tokh three times, so an un-materialized tokh would
    *    re-run the full char-hash pipeline 3× per shingle (≈900× per doc;
    *    this inlining turned a 3 s pipeline into 60 s). Materializing makes
    *    tokh a real column, so references are array loads.
    * Spark's cache manager keys on the logical plan, so all near-dup
    * queries share one cache entry per stage. */
  /** Pure transform twin of [[tokens]]: adds `toks`/`tokh` to any frame
    * with a `text` column. Shared by the batch path and the incremental
    * (streaming) index builder so stream ≡ batch holds BY CONSTRUCTION —
    * the same expressions sign a micro-batch and the full corpus. */
  private[graft] def tokensOf(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(lower(trim(col("text"))), " "))
      .withColumn("tokh", expr("transform(toks, t -> poly_hash(t))"))

  private[graft] def tokens(s: SparkSession, d: String): DataFrame = {
    CosineSim.register(s) // poly_hash: the native form of polySql (same value)
    materialized(tokensOf(spreadIfNarrow(s, Tables.documents(s, d)))
      .select(col("doc_id"), col("n_chars"), col("toks"), col("tokh")))
  }

  /** Repartition the corpus on `doc_id` ONLY when the scan yields fewer
    * splits than the cluster's parallelism. The fixture tables are single
    * parquet files = one input split, which would serialize the expensive
    * token/shingle hashing onto one core; but a real 100 TB corpus is
    * already thousands of splits, and an unconditional repartition there
    * is a full-corpus shuffle — the single largest avoidable exchange in
    * the near-dup pipeline (VERDICT r5 finding #2). The probe reads the
    * scan's partition count off the physical RDD (plan-time file math — no
    * job runs); PlanShapeSpec pins both sides of the gate. */
  private[graft] def spreadIfNarrow(s: SparkSession, df: DataFrame,
      key: String = "doc_id"): DataFrame =
    if (df.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
      df.repartition(col(key))
    else df

  /** Duplicated-span threshold for dedup_substring_remove — Lee et al.'s
    * 50 tokens. The arithmetic is length-free; the fixture's planted
    * near-dup pairs share ≥ 50-token runs, so the op removes real spans
    * at every committed SF (measured: 280 duplicated 50-grams at sf0.01). */
  private[graft] val substrG = 50

  /** Exact-substring removal body over a (doc_id, toks, tokh) frame:
    *  1. POSITIONAL g-gram hashes per doc, under TWO independent
    *     (base, modulus) pairs (native rolling-hash ngram_hashes_pos +
    *     ngram_hashes_pos_b — each O(tokens), not O(tokens·g));
    *  2. duplicated grams = the (gram, gram_b) PAIR present in ≥ 2
    *     distinct docs (the dedup_repeated_ngrams word-count shape).
    *     Keying a DESTRUCTIVE rewrite on one mod-1e9+7 hash is
    *     corpus-fatal at scale (ADVICE r12): ~10¹³ windows at 100 TB
    *     pigeonhole a 10⁹ key space, so nearly every value collides and
    *     the pass would remove unrelated text. Agreement on both moduli
    *     multiplies the key space to P₁·P₂ ≈ 10¹⁸: identical spans still
    *     agree by construction (zero recall loss — the guard only
    *     removes false positives), and the expected falsely-removed
    *     text at 10¹³ windows is ~N²/(2·P₁·P₂) ≈ 5·10⁷ windows ≈
    *     0.0002% of corpus tokens (see NgramHashesPosB's envelope note);
    *  3. each flagged window covers tokens [pos, pos+g−1]; overlapping/
    *     adjacent windows merge into maximal REMOVED intervals per doc
    *     (gaps-and-islands: a window starts a new island iff its start is
    *     > g past the previous start — equal-length windows make the
    *     running max of ends just pos+g−1);
    *  4. kept segments are the complement (between-removals + tail +
    *     untouched docs), rewritten as the space-joined kept tokens.
    *
    * Scale shape: one explode → one (doc,gram)-distinct + gram-keyed agg
    * (word-count, map-side combinable) → one gram-keyed join back (hot
    * grams are BOUNDED by doc count per gram, and the join output is at
    * most the window count) → doc-keyed windows (maximal parallelism,
    * per-doc state bounded by doc length). No all-pairs, no driver work;
    * every stage is linear in corpus tokens at any corpus size. */
  /** The positional dual-modulus window stream of a (doc_id, tokh) frame:
    * (doc_id, pos, gram, gram_b), one row per g-token window. The two
    * hash arrays zip into ONE struct stream BEFORE the explode so each
    * emitted window row carries one 2-field struct, not the whole
    * second-hash array (a carried array column re-copies per output
    * row once the generate leaves codegen — measured 2–4× at sf10).
    * Shared by the batch removal and its streaming twin, so the gram
    * keys agree across both BY CONSTRUCTION. */
  private[graft] def substringWins(toksDf: DataFrame, g: Int): DataFrame =
    toksDf.filter(size(col("tokh")) >= g)
      .select(col("doc_id"),
        posexplode(expr(s"arrays_zip(ngram_hashes_pos(tokh, $g), " +
          s"ngram_hashes_pos_b(tokh, $g))")).as(Seq("p", "gr")))
      .select(col("doc_id"), col("p").cast("long").as("pos"),
        col("gr")("0").as("gram"), col("gr")("1").as("gram_b"))

  /** The interval-merge + kept-segment complement + rewrite over a
    * flagged-window set `hits` (doc_id, pos) — steps 3–4 of the removal.
    * Factored so the streaming twin can feed hits from its incremental
    * gram index through the identical rewrite expressions. */
  private[graft] def substringSegments(toksDf: DataFrame, hits: DataFrame,
      g: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val removed = hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > g, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("rm_start"),
        (max(col("pos")) + lit(g.toLong) - 1L).as("rm_end"))
    val w2 = Window.partitionBy(col("doc_id")).orderBy(col("rm_start"))
    val mids = removed
      .withColumn("ks", coalesce(lag(col("rm_end"), 1).over(w2) + 1L, lit(0L)))
      .withColumn("ke", col("rm_start") - 1L)
      .filter(col("ks") <= col("ke"))
      .select(col("doc_id"), col("ks"), col("ke"))
    val nTok = toksDf.select(col("doc_id"), size(col("tokh")).cast("long").as("n_tok"))
    val tails = removed.groupBy(col("doc_id")).agg(max(col("rm_end")).as("last_end"))
      .join(nTok, "doc_id")
      .select(col("doc_id"), (col("last_end") + 1L).as("ks"), (col("n_tok") - 1L).as("ke"))
      .filter(col("ks") <= col("ke"))
    val untouched = toksDf
      .join(removed.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(0L).as("ks"), (size(col("tokh")).cast("long") - 1L).as("ke"))
    val w3 = Window.partitionBy(col("doc_id")).orderBy(col("ks"))
    mids.unionByName(tails).unionByName(untouched)
      .join(toksDf.select(col("doc_id"), col("toks")), "doc_id")
      .withColumn("seg", row_number().over(w3).cast("long"))
      .select(col("doc_id"), col("seg"), col("ks").as("tok_start"), col("ke").as("tok_end"),
        expr("array_join(slice(toks, CAST(ks + 1 AS INT), " +
          "CAST(ke - ks + 1 AS INT)), ' ')").as("kept_text"))
  }

  private[graft] def substringRemoveOf(toksDf: DataFrame, g: Int): DataFrame = {
    val wins = substringWins(toksDf, g)
    val dup = wins.select(col("doc_id"), col("gram"), col("gram_b")).distinct()
      .groupBy(col("gram"), col("gram_b")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("gram"), col("gram_b"))
    val hits = wins.join(dup, Seq("gram", "gram_b"))
      .select(col("doc_id"), col("pos"))
    substringSegments(toksDf, hits, g)
  }

  /** (doc_id, shl): distinct 3-token-shingle hash set — combines the three
    * cached token hashes arithmetically (~6× less char work than hashing
    * each shingle string) via the native `ngram_hashes`
    * (functions/NgramHashes.scala; with it the whole signature pipeline —
    * poly_hash → ngram_hashes → minhash_sigs/simhash_sig — is
    * codegen-native). Materialized: `shl` is referenced inside the
    * per-permutation / per-bit lambdas downstream (same inlining hazard). */
  /** Pure transform twin: (doc_id, tokh) → distinct 3-shingle hash set. */
  private[graft] def shingleSetsOf(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), expr("ngram_hashes(tokh, 3)").as("shl"))
      .filter(size(col("shl")) >= 2)

  private def shingleSets(s: SparkSession, d: String): DataFrame =
    materialized(shingleSetsOf(tokens(s, d)))

  /** (doc_id, n_shingles, n_unique, novelty): fraction of a doc's
    * distinct shingles with corpus df = 1, off the shared cached shingle
    * index — curation_novelty's body, shared with curation_pareto_front.
    * Word-count shape twice (shingle-keyed df agg, doc-keyed ratio agg)
    * joined on the content-derived shingle key; linear, map-side
    * combinable, no bounded-cardinality blocking. */
  private def noveltyOf(s: SparkSession, d: String): DataFrame = {
    val ex = shingleSets(s, d)
      .select(col("doc_id"), explode(col("shl")).as("sh"))
    ex.join(ex.groupBy(col("sh")).agg(count(lit(1)).as("df")), "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        expr("floor(n_unique / CAST(n_shingles AS DOUBLE) " +
          "* 1000000D + 0.5D) / 1000000D").as("novelty"))
  }

  /** cache() is lazy — a multi-branch plan over an unmaterialized cache
    * recomputes the subtree per branch (measured 51 s → 2 s at sf0.1).
    * One count() materializes the signature table before the self-join
    * fans out; this is the "build the index once" step, not a collect. */
  private def materialized(df: DataFrame): DataFrame = { df.cache().count(); df }

  /** (doc_id, shl, mh): 16 affine-permutation MinHash signatures over the
    * shingle set, MATERIALIZED — the shared LSH index every near-dup
    * variant's candidate generation reads. The native `minhash_sigs`
    * (functions/MinHashSigs.scala) replaces the HOF
    * `transform(sequence, p -> array_min(transform(shl, ...)))` form —
    * same values, one fused codegen'd loop instead of ~1000 interpreted
    * lambda frames per doc (the index build's hottest stage). */
  private def minhashSigs(s: SparkSession, d: String): DataFrame =
    materialized(shingleSets(s, d)
      .withColumn("mh", expr("minhash_sigs(shl, 16)")))

  /** The full signature pipeline as ONE pure transform: any frame with
    * (doc_id, text) → (doc_id, shl, mh). This is what the incremental
    * index builder runs per micro-batch (graft.streaming.Streams
    * .nearDupStream); the batch path runs the identical expressions with
    * per-stage materialization. */
  private[graft] def sigsOf(docs: DataFrame): DataFrame =
    shingleSetsOf(tokensOf(docs)).withColumn("mh", expr("minhash_sigs(shl, 16)"))

  /** (doc_id, line_no, line, norm): the line explode + normalization
    * (lower + trim) shared by batch dedup_lines_remove and the streaming
    * twin (graft.streaming.Streams.linesRemoveStream) — same key, same
    * exemption (empty norms never index), so stream ≡ batch holds at the
    * line-key level by construction. */
  private[graft] def linesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
      .select(col("doc_id"), col("line_no").cast("long").as("line_no"),
        col("line"), lower(trim(col("line"))).as("norm"))

  /** Per-doc rebuild + removal audit from a flagged line frame (doc_id,
    * line_no, line, kept) — the doc-keyed rebuild agg both paths end in:
    * (doc_id, n_lines, n_removed, kept_text). */
  private[graft] def linesRebuild(flagged: DataFrame): DataFrame =
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_removed"),
        expr("transform(array_sort(collect_list(CASE WHEN kept THEN " +
          "struct(line_no, line) END)), x -> x.line)").as("arr"))
      .select(col("doc_id"), col("n_lines"), col("n_removed"),
        array_join(col("arr"), "\n").as("kept_text"))

  /** The whole batch line-dedup kernel over ANY (doc_id, text) frame —
    * corpus-wide keep-first (min (doc_id, line_no) per duplicated
    * normalized line), factored so the streaming twin's cleanliness law
    * can re-run the detector over its own rebuilt output. */
  private[graft] def linesRemoveOf(docs: DataFrame): DataFrame = {
    val lf = linesOf(docs)
    val st = lf.filter(col("norm") =!= "")
      .groupBy(col("norm"))
      .agg(count(lit(1)).as("df"),
        min(struct(col("doc_id"), col("line_no"))).as("k"))
      .select(col("norm"), col("df"),
        col("k.doc_id").as("kd"), col("k.line_no").as("kl"))
    linesRebuild(lf.join(st, Seq("norm"), "left")
      .withColumn("kept", col("df").isNull || col("df") === 1L ||
        (col("doc_id") === col("kd") && col("line_no") === col("kl"))))
  }

  /** (doc_id, bd, sig) band keys — 8 bands × 2 minhash rows. */
  private[graft] def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(expr(
      "transform(sequence(0, 7), b -> concat(" +
        "CAST(mh[CAST(2 * b AS INT)] AS STRING), '-', " +
        "CAST(mh[CAST(2 * b + 1 AS INT)] AS STRING)))")).as(Seq("bd", "sig")))

  /** DISTINCT (id1, id2) candidate pairs from the 8-band × 2-row MinHash
    * LSH — the shared candidate generator: P(candidate | jaccard j) =
    * 1-(1-j²)^8 ≈ 0.995 at j = 0.7. Band keys are content-derived (minhash
    * values mod 1e9+7), so bucket cardinality grows with the corpus. */
  private def bandCandidates(s: SparkSession, d: String): DataFrame =
    // Memo-served (round 15): the LSH candidate pair table is read by
    // five verify kernels (minhash, containment, ngram_jaccard,
    // edit_distance, minhash_recall's caught side) and each re-ran the
    // band self-join + DISTINCT per call on top of the cached signature
    // stage. Same stored-index class as the pair tables it feeds.
    graft.Memo.cached(s.sparkContext.applicationId, s"band_cands:$d") {
      val bands = bandsOf(minhashSigs(s, d))
      bands.as("a").join(bands.as("b"),
          col("a.bd") === col("b.bd") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct()
        .localCheckpoint()
    }

  /** ONE incremental near-dup step: the pairs whose LATEST member arrived
    * in `newSigs`, given the full signature index `allSigs` (which already
    * CONTAINS the new rows). Joining bands(all) × bands(new) — not
    * all × all — is what makes the stream's cumulative work equal the
    * batch join: each pair is generated exactly once, in the micro-batch
    * where its second document arrives (both-new pairs appear in both
    * orientations; least/greatest + DISTINCT canonicalizes them). The
    * verify kernel — ≥ 5/16 signature-agreement pre-filter, then exact
    * shingle jaccard ≥ 0.5 — is byte-identical to [[minhashPairs]], so
    * the union of per-batch outputs equals batch dedup_minhash exactly
    * (StreamingSpec replays the corpus and asserts it). */
  private[graft] def incrementalPairs(allSigs: DataFrame, newSigs: DataFrame): DataFrame = {
    val cand = bandsOf(allSigs).as("a").join(bandsOf(newSigs).as("b"),
        col("a.bd") === col("b.bd") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id2"))
      .distinct()
    cand
      .join(allSigs.select(col("doc_id").as("id1"), col("shl").as("s1"),
        col("mh").as("m1")), "id1")
      .join(allSigs.select(col("doc_id").as("id2"), col("shl").as("s2"),
        col("mh").as("m2")), "id2")
      .filter(expr("size(filter(zip_with(m1, m2, (x, y) -> x = y), v -> v)) >= 5"))
      .select(col("id1"), col("id2"),
        round(expr("jaccard_sim(s1, s2)"), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  private val duckShingleSets: String =
    "SELECT doc_id, shl FROM (SELECT doc_id, list_distinct(list_transform(" +
      "range(len(tokh) - 2), i -> (((tokh[i+1] * 8191 + tokh[i+2]) % 1000000007) " +
      "* 8191 + tokh[i+3]) % 1000000007)) AS shl FROM (" +
      "SELECT doc_id, list_transform(string_split(lower(trim(text)), ' '), " +
      "t -> " + duckPoly("t") + ") AS tokh FROM documents)) WHERE len(shl) >= 2"

  /** Verified near-dup pairs (id1 < id2, shingle jaccard ≥ 0.5) from the
    * MinHash-LSH candidates: the shared edge set for dedup_minhash and the
    * connected-components clustering. A 16-op signature-agreement
    * pre-filter (≥ 5/16 matching minhashes) guards the exact verify. */
  private[graft] def minhashPairs(s: SparkSession, d: String): DataFrame =
    // Memo-served (round 15): the VERIFIED pair table is the dedup
    // family's stored edge index — five consumers (dedup_minhash, both
    // clustering trainers, the recursive-SQL twin, the leakage audit)
    // each re-ran the candidate+verify join per call on top of the shared
    // cached signature stages (~0.5–1 s each at sf0.1). Skinny
    // (id1, id2, jaccard) rows, the same registry class as the cluster
    // labels derived from it; localCheckpoint materializes it once.
    graft.Memo.cached(s.sparkContext.applicationId, s"minhash_pairs:$d") {
      CosineSim.register(s)
      val sigs = minhashSigs(s, d)
      bandCandidates(s, d)
        .join(sigs.select(col("doc_id").as("id1"), col("shl").as("s1"),
          col("mh").as("m1")), "id1")
        .join(sigs.select(col("doc_id").as("id2"), col("shl").as("s2"),
          col("mh").as("m2")), "id2")
        .filter(expr("size(filter(zip_with(m1, m2, (x, y) -> x = y), v -> v)) >= 5"))
        .select(col("id1"), col("id2"),
          round(expr("jaccard_sim(s1, s2)"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .localCheckpoint()
    }

  /** Iterative min-label propagation (connected components) over an
    * undirected pair list `(id1, id2)` → `(v, l)` where `l` is the smallest
    * vertex id in `v`'s component. The canonical Pregel driver loop: per
    * round ONE hash-shuffle join + agg over the edge set and ONE scalar
    * driver action (the label sum, strictly decreasing until fixpoint)
    * which doubles as the cache-materializing step.
    *
    * Lineage control for deep graphs: every `checkpointEvery` rounds the
    * new label generation is `localCheckpoint`ed (eager) instead of
    * `cache`d — each round otherwise stacks a join+agg on the logical
    * plan, and past ~15 rounds planning time dominates the actual work.
    * localCheckpoint trades recompute-on-block-loss for truncation; the
    * right trade in this loop because every generation is already
    * explicitly materialized before the previous one is released.
    *
    * Cache lifetime (VERDICT r4 #3): the doubled edge set is unpersisted
    * once the loop converges — the final labels are materialized, so the
    * edge cache is dead weight from then on. The FINAL label generation
    * stays pinned because the returned plan reads it; it is one skinny
    * (v, l) row per non-isolated vertex — callers that are done with the
    * result can `unpersist()` it (or `spark.catalog.clearCache()`), and
    * perfbench does exactly that between passes. Caveat for CHECKPOINTED
    * generations: localCheckpoint persists the RDD directly, outside the
    * CacheManager, so `unpersist()`/`clearCache()` are no-ops on them —
    * their blocks are freed by the ContextCleaner once unreferenced,
    * which holds for every checkpointed generation except the most
    * recent (the current plan's lineage roots at it); at most one stale
    * generation is pinned at any time, and it dies with the last
    * reference to the result.
    *
    * Partitioning: the edge set is cached ALREADY hash-partitioned on the
    * join key `b`, so every round's `join(lbl, "b")` reshuffles only the
    * one-skinny-row-per-vertex label table — the cached (large) edge side
    * satisfies the join's distribution requirement as-is. Without this,
    * each round re-shuffles the whole edge set: the dominant per-round
    * cost on a real dup graph. */
  /** ONE label-propagation round: neighbor-min over the edge set, then
    * elementwise least with the current labels. Factored out so the
    * per-round exchange budget is plan-pinned (PlanShapeSpec): with
    * `edges` cached pre-partitioned on `b`, this body must cost at most
    * TWO exchanges — the skinny label table reshuffling to `b` for the
    * join, and the groupBy(a) agg — or a refactor has silently doubled
    * the dominant per-round shuffle. */
  private[graft] def lpRound(edges: DataFrame, lbl: DataFrame): DataFrame = {
    val nbrMin = edges
      .join(lbl.select(col("v").as("b"), col("l").as("nl")), "b")
      .groupBy(col("a").as("v")).agg(min(col("nl")).as("nl"))
    lbl.join(nbrMin, "v")
      .select(col("v"), least(col("l"), col("nl")).as("l"))
  }

  private[graft] def labelPropagation(
      pairs: DataFrame, maxRounds: Int = 50, checkpointEvery: Int = 8): DataFrame = {
    val edges = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .union(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .repartition(col("b"))
      .cache()
    def sumOf(df: DataFrame, c: String): Long = {
      val r = df.agg(sum(col(c))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // materializes the edge cache AND yields the identity-label sum
    // (labels start as each vertex's own id) in the same action
    val idSum = {
      val r = edges.agg(sum_distinct(col("a"))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // round 1 fused: l(v) = min(v, min over neighbors) directly
    var lbl = edges.groupBy(col("a").as("v"))
      .agg(least(min(col("a")), min(col("b"))).as("l")).cache()
    var prevSum = sumOf(lbl, "l") // also materializes the cache
    var done = prevSum == idSum
    var round = 1
    while (!done && round < maxRounds) {
      val step = lpRound(edges, lbl)
      val nxt =
        if (round % checkpointEvery == 0) step.localCheckpoint() // eager
        else step.cache()
      val curSum = sumOf(nxt, "l") // one action: materialize + probe
      lbl.unpersist()
      lbl = nxt
      done = curSum == prevSum
      prevSum = curSum
      round += 1
    }
    edges.unpersist()
    warnIfNotConverged(done, "labelPropagation", maxRounds)
    lbl
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the O(log² N)-round
    * alternative to [[labelPropagation]] for DEEP graphs, where min-label
    * propagation needs diameter-many rounds. Returns the same `(v, l)`
    * labels (component minimum per vertex; property-tested equivalent).
    *
    * Per round: large-star hangs every neighbor v > u off u's minimum
    * (star edges toward component minima), then small-star re-hangs the
    * v ≤ u remainder — each is one groupBy-min + join + symmetrize, so a
    * round costs more shuffles than a label-prop round but the round count
    * collapses (a 23-node path: 5 rounds vs 22). Convergence probe: the
    * edge multiset fingerprint (count, Σu, Σ(541·u + v mod 1e9+7)) is
    * unchanged by a full large+small cycle — the paper's fixpoint, at
    * which edges form stars rooted at component minima.
    *
    * Choose label-prop for shallow dup graphs (diameter < ~10: cheaper
    * rounds win), star contraction for unknown/deep topology. */
  private[graft] def starContraction(
      pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    def minTable(e: DataFrame): DataFrame =
      e.groupBy(col("u")).agg(least(min(col("v")), min(col("u"))).as("m"))
    def largeStar(e: DataFrame): DataFrame = {
      val m = minTable(e)
      sym(e.filter(col("v") > col("u")).join(m, "u")
        .select(col("v").as("u"), col("m").as("v")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val m = minTable(e)
      sym(e.filter(col("v") < col("u")).join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m.select(col("u"), col("m").as("v"))))
    }
    def probe(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)), sum(col("u")),
        sum(expr("(u * 541 + v) % 1000000007"))).first()
      (r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    // every generation is localCheckpoint'ed (eager): sym/minTable each
    // reference their input 2-3×, so a cached-lineage loop multiplies the
    // LOGICAL plan ~6× per round — analysis itself OOMs after ~10 rounds.
    // Checkpointing truncates each generation to a LogicalRDD, keeping
    // plans constant-size; blocks of superseded generations are freed by
    // the ContextCleaner once unreferenced (see labelPropagation's note).
    var edges = sym(pairs.select(col("id1").as("u"), col("id2").as("v")))
      .localCheckpoint()
    var prev = probe(edges)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val ls = largeStar(edges).localCheckpoint()
      val nxt = smallStar(ls).localCheckpoint()
      val cur = probe(nxt)
      edges = nxt
      done = cur == prev
      prev = cur
      round += 1
    }
    warnIfNotConverged(done, "starContraction", maxRounds)
    // the final checkpointed generation backs the returned plan; it is
    // released by the ContextCleaner with the result's last reference
    edges.groupBy(col("u"))
      .agg(least(min(col("v")), min(col("u"))).as("l"))
      .select(col("u").as("v"), col("l"))
  }

  /** Memoized corpus cluster labels (labelPropagation over minhashPairs) —
    * the train-once-serve-many shape (graft.Memo): dedup_clusters derives
    * them and curation_keep_best consumes the SAME model table, so within
    * a session the iterative clustering job runs once. The loops end in
    * cache()/localCheckpoint generations whose plans are unique per call,
    * so the CacheManager's plan-keyed sharing (which the signature stages
    * ride on) can never deduplicate them — the memo does. */
  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s.sparkContext.applicationId, s"lp_labels:$d") {
      labelPropagation(minhashPairs(s, d))
    }

  /** Memoized star-contraction labels — separate key: dedup_clusters_star
    * exists precisely to exercise the O(log² N) code path end-to-end, so
    * it must never be served the label-propagation result (identical
    * values, wrong code path). */
  private[graft] def starLabels(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s.sparkContext.applicationId, s"star_labels:$d") {
      starContraction(minhashPairs(s, d))
    }

  /** SimHash candidate pairs under a parameterized block-permutation
    * blocking: the 64-bit signature splits into `blocks` equal-width
    * blocks, and each of the C(blocks, combo) block COMBINATIONS becomes a
    * bucket-key position (the values of the chosen blocks packed into one
    * BIGINT). A pair collides when ANY position's key matches.
    *
    * Geometry: detection of hamming ≤ h is GUARANTEED for
    * h ≤ blocks − combo (≤ h flipped bits touch ≤ h blocks; the remaining
    * blocks contain an intact combination — pigeonhole), and bucket
    * cardinality is 2^(combo · 64/blocks). The default (4, 1) is the
    * classic Manku 4×16-bit split (h ≤ 3, 65 536 buckets/position); the
    * 1e9+-docs path is MORE positions with WIDER keys — e.g. (8, 5): the
    * same h ≤ 3 guarantee with 2^40 buckets, trading 56 cheap map-side
    * key emissions per doc for per-bucket pair counts that stay flat
    * three orders of magnitude past where 16-bit buckets saturate.
    * PropertySpec pins the blocking laws: candidates shrink as `combo`
    * grows (a (C+1)-block key match implies a C-block one) and recall on
    * the fixture's hamming ≤ 3 pairs stays 1.0 while blocks − combo ≥ 3.
    *
    * Positions are a compile-time list, so the key expressions unroll into
    * ONE codegen'd `inline(array(...))` — all shift/mask arithmetic, no
    * interpreted lambdas — and the whole blocking stays map-side until the
    * one bucket-key equi-join. */
  private[graft] def simhashCandidates(s: SparkSession, d: String,
      blocks: Int = 4, combo: Int = 1): DataFrame = {
    require(64 % blocks == 0 && combo >= 1 && combo < blocks,
      s"need 64 % blocks == 0 and 1 <= combo < blocks (got $blocks, $combo)")
    val w = 64 / blocks
    val mask = (1L << w) - 1
    val sims = materialized(shingleSets(s, d)
      .select(col("doc_id"), expr("simhash_sig(shl, 64)").as("sim")))
    val keyStructs = (0 until blocks).combinations(combo).toSeq.zipWithIndex
      .map { case (bs, idx) =>
        val key = bs.zipWithIndex.map { case (b, i) =>
          s"((shiftright(sim, ${b * w}) & ${mask}L) * ${1L << (i * w)}L)"
        }.mkString(" + ")
        s"named_struct('bd', $idx, 'blk', $key)"
      }
    val keys = sims.select(col("doc_id"), col("sim"),
      expr(s"inline(array(${keyStructs.mkString(", ")}))"))
    keys.as("a").join(keys.as("b"),
        col("a.bd") === col("b.bd") && col("a.blk") === col("b.blk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        expr("CAST(bit_count(a.sim ^ b.sim) AS BIGINT)").as("hamming"))
      .distinct()
  }

  /** The EXACT jaccard ≥ 0.5 pair set via PPJoin prefix filtering —
    * provably complete, so it serves BOTH as dedup_prefix_filter's body
    * and as the ground truth dedup_minhash_recall grades the banding
    * against (see the dedup_prefix_filter entry's comment for the filter
    * arithmetic, completeness argument, and 100 TB shape). */
  /** Audit-tool doc-count envelope for the EXACT AllPairs join (r13
    * verdict #3 → r14): under a Heaps-law vocabulary V ∼ √N, mean
    * shingle df grows ∼ √N and candidate volume ∼ V·df² ∼ N^1.5 —
    * MEASURED at the second Zipf decade (SCALING.md: 20.2 s at 5·10⁵
    * docs → 317.4 s at 5·10⁶, exp 1.20 walking toward the asymptote).
    * The envelope is where the asymptote prices a single-node audit out
    * of sanity: 2·10⁷ docs ≈ 317·(4)^1.5 ≈ 2 500 s ≈ 42 min. Past it the
    * query raise_errors with the production path named (the
    * pcaGuardedMatSql discipline — a loud refusal beats a silently
    * day-long job that MinHash runs in minutes). */
  private[graft] val ppjoinEnvelopeDocs = 20000000L
  private[graft] val ppjoinEnvelopeMsg: String =
    "dedup_prefix_filter: exact AllPairs audit envelope exceeded - " +
      "candidate volume is Theta(N^1.5) under a Heaps-law vocabulary " +
      "(measured exp 1.20 at 5M docs, SCALING.md), so this corpus prices " +
      "beyond the ~42-min single-run budget. Use dedup_minhash (exp ~0.5) " +
      "with dedup_minhash_recall as the honesty meter, or sample the " +
      "corpus into the 20M-doc envelope."

  /** In-plan data gate, the pcaGuardedMatSql discipline in filter form:
    * the frame's own 1-row count broadcasts onto every row and a CASE
    * raise_errors past `envelope` — the gate fires at RUNTIME on the data
    * actually scanned (a synthetic over-envelope frame trips it in tests;
    * the count is one metadata-cheap agg over an already-cached stage),
    * never silently truncates. */
  private[graft] def auditGated(df: DataFrame, envelope: Long,
      msg: String): DataFrame = {
    val n = df.groupBy().agg(count(lit(1)).as("_audit_n"))
    // The gate is built as a Column, never a spliced SQL string (ADVICE
    // r14: a quote in the message would break the plan at parse time).
    // raise_error is NullType; the when() coerces to a nullable boolean
    // filter whose error arm fires before the null could matter.
    df.crossJoin(broadcast(n))
      .filter(when(col("_audit_n") > lit(envelope),
        raise_error(lit(msg))).otherwise(lit(true)))
      .drop("_audit_n")
  }

  private[graft] def ppjoinPairs(s: SparkSession, d: String): DataFrame =
    // Memo-served (round 15): the exact ground-truth pair set is
    // consumed by BOTH dedup_prefix_filter and dedup_minhash_recall, and
    // each re-ran the full prefix-filter self-join + verify per call
    // (~2.5–3 s at sf0.1). Same stored-pair-table class as minhashPairs;
    // the audit gate fires (or stays inert) during the one build.
    graft.Memo.cached(s.sparkContext.applicationId, s"ppjoin_pairs:$d") {
      ppjoinPairsBuild(s, d).localCheckpoint()
    }

  private def ppjoinPairsBuild(s: SparkSession, d: String): DataFrame = {
    CosineSim.register(s)
    val sets0 = shingleSets(s, d).withColumn("sz", size(col("shl")))
    // the gate sits where candidates ORIGINATE (the prefix stream); the
    // verify sides below reuse the ungated frame — if the corpus is over
    // the envelope the candidate leg has already raised
    val sets = auditGated(sets0, ppjoinEnvelopeDocs, ppjoinEnvelopeMsg)
    val ex = sets.select(col("doc_id"), col("sz"), explode(col("shl")).as("sh"))
    val dfreq = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val pref = ex.join(dfreq, "sh")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= expr("sz - (sz + 1) DIV 2 + 1"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          lit(2) * least(col("a.sz"), col("b.sz")) >=
            greatest(col("a.sz"), col("b.sz")) &&
          least(col("a.sz") - col("a.rk"), col("b.sz") - col("b.rk")) +
            lit(1) >= expr("(a.sz + b.sz + 2) DIV 3"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_shared_prefix"))
    // The verify join's build side is the full sets table — TINY next to
    // the candidate stream at fixture scales (the broadcast keeps the
    // planner off a 5×-slower sort-merge of the candidates), but
    // corpus-linear: past ~10⁶ docs the shingle arrays no longer fit a
    // broadcast (measured: the 100×-sf0.1 Zipf corpus, 5 M docs, kills
    // the exchange), so the hint is DATA-GATED on the session-cached doc
    // count and the large regime shuffles candidates against bucketed
    // sets — exactly the plan the Scaladoc always promised at 100 TB.
    def side(pfx: String) =
      sets0.select(col("doc_id").as(s"id$pfx"), col("shl").as(s"s$pfx"))
    def maybeBc(df: DataFrame) =
      if (graft.Sizing.docCount(s, d) <= 1000000L) broadcast(df) else df
    cand
      .join(maybeBc(side("1")), "id1")
      .join(maybeBc(side("2")), "id2")
      .select(col("id1"), col("id2"),
        round(expr("jaccard_sim(s1, s2)"), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  // ---- Text-retrieval family (BM25 / RRF): shared term index ----------

  /** Okapi BM25 constants (Robertson & Zaragoza 2009, the standard
    * defaults). Written as exact decimal literals on BOTH engines so the
    * per-term double arithmetic is bit-identical. */
  private[graft] val bm25K1 = "1.2"
  private[graft] val bm25K1p1 = "2.2" // k1 + 1, as ONE literal both engines parse identically
  private[graft] val bm25B = "0.75"

  /** How deep each retriever's ranked list goes into the RRF fusion, and
    * the standard RRF rank damping (Cormack et al. 2009). */
  private[graft] val rrfDepth = 20
  private[graft] val rrfK = 60

  /** (doc_id, dl, term, tf): per-document term frequencies + document
    * length, off the shared cached token stage. Terms are the RAW
    * lowercased tokens (retrieval joins on term equality only, and the
    * oracle twin replays string terms directly — no hashing needed).
    * One (doc_id, term)-keyed hash agg with map-side combine; linear. */
  private def termFreqs(s: SparkSession, d: String): DataFrame =
    // Memo (not just plan-keyed cache): the retrieval pipelines reference
    // this stage ~6× per action through corpusTf/queryTerms, and each
    // materialized() CALL costs an eager count job even on warm cache —
    // the memo hands every caller the same DataFrame so the job runs
    // once per session per corpus (cleared between perfbench passes).
    graft.Memo.cached(s.sparkContext.applicationId, s"term_freqs:$d") {
      materialized(tokens(s, d)
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf")))
    }

  /** Exact Okapi BM25 of every query doc against every corpus doc they
    * share a term with → (qid, did, s6) where s6 is the 1e-6 fixed-point
    * integer score. The query batch is the first `Sizing.anchors(docN)`
    * documents (data-adaptive like the embedding anchor batch; the twin
    * replays the rule via dqparSql); the corpus is the rest, and ALL
    * collection statistics (N, df, avgdl) are corpus-side only — the
    * query set never biases its own idf.
    *
    * Cross-engine float discipline: idf = ln(1 + (N − df + 0.5)/(df +
    * 0.5)) is rounded to 6 dp and fixed to an INTEGER immediately (ln is
    * the one library function whose last ulp may differ between
    * engines); tf saturation and length normalization are +,*,/ on
    * exact-integer-derived doubles (IEEE-identical given identical
    * expressions), and each term's contribution is floored to an integer
    * BEFORE the order-independent BIGINT sum.
    *
    * Scale shape: work is Σ_t df(t)·q(t) ≤ |queries| · corpus tokens —
    * LINEAR in the corpus per query (the per-term fan-out is the tiny
    * broadcast query side, never a posting self-join), so no df cap is
    * needed, unlike the all-pairs sparse_topk. Long headroom: idf6 ≤
    * ln(2N)·1e6 and tfnorm < k1+1 = 2.2, so a 10k-term query doc's s6
    * stays < 2.2·ln(2N)·1e10 — inside BIGINT at any corpus size. */
  private def nQueryDocs(s: SparkSession, d: String): Int =
    Sizing.anchors(Sizing.docCount(s, d))

  /** Corpus-side term frequencies (the query batch excluded). */
  private def corpusTf(s: SparkSession, d: String): DataFrame =
    termFreqs(s, d).filter(col("doc_id") >= nQueryDocs(s, d))

  /** ONE (n_docs, sum_dl) corpus-stats row, shared by both retrievers.
    * NOT materialized: it is a 1-row broadcast built off the cached
    * termFreqs — an eager cache job would cost more scheduling than the
    * recompute (measured: 4 eager stage-builds made bm25 2.5× slower at
    * sf0.1; only the pair-scores table below earns its cache). */
  private def retrievalStats(s: SparkSession, d: String): DataFrame =
    corpusTf(s, d)
      .groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** The shared (term, idf6) table — ONE idf definition for BOTH
    * retrievers (exactly like the twin's single `wt` CTE). Lazy: each
    * consumer recomputes this vocab-keyed agg off the cached termFreqs,
    * which is cheaper than an eager cache-build job (see retrievalStats
    * note). */
  private def idfTable(s: SparkSession, d: String): DataFrame =
    corpusTf(s, d)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(retrievalStats(s, d)))
      .select(col("term"), expr(
        "CAST(floor(round(ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D)), 6) " +
          "* 1000000D + 0.5D) AS BIGINT)").as("idf6"))

  /** Distinct (qid, term) of the query batch: standard BM25 ignores
    * query-side tf (short queries), and the distinct keeps the broadcast
    * minimal. */
  private def queryTerms(s: SparkSession, d: String): DataFrame =
    termFreqs(s, d).filter(col("doc_id") < nQueryDocs(s, d))
      .select(col("doc_id").as("qid"), col("term")).distinct()

  /** BOTH retrieval scores from ONE fan-out — (qid, did, s6, dot): the
    * BM25 sum and the idf²-dot ride the same (query, corpus-doc, shared
    * term) row set, so one broadcast fan + one pair-keyed agg computes
    * them together (two separate scorer pipelines measured ~2× the whole
    * query in small-stage overhead at sf0.1).
    *
    * The idf and stats joins sit BEFORE the query fan-out so the
    * weighting touches corpus-tf rows once; at fixture scale Catalyst
    * auto-broadcasts the tiny idf table either way (the explain shows an
    * all-broadcast map-only fan), but at real vocabulary sizes the
    * fan-first order would shuffle |Q|× the rows through the term join.
    * NOT cached: a |Q|×N pair table is exactly what a 100 TB run must
    * never materialize — within the RRF action the two ranking branches
    * share this subtree through ReusedExchange (both windows shuffle it
    * by qid — the tfidf shared-shuffle discipline, PlanShapeSpec-pinned),
    * and across the two registered queries the cached termFreqs stage
    * carries the expensive base. */
  private def pairScores(s: SparkSession, d: String): DataFrame =
    // repartition by doc_id BEFORE the broadcast fan: the fan multiplies
    // each corpus (doc, term) row by ≤ |Q| query matches with the SAME
    // did, so co-locating a doc's term rows lets the (qid, did) partial
    // agg collapse them map-side to ≤ |Q| rows per doc — without it, a
    // doc's ~30 term rows sit in ~30 different partitions (termFreqs is
    // (doc, dl, term)-hashed), partial agg reduces nothing, and the FULL
    // |Q|·corpus-tokens fan shuffles (measured at the sf10 second axis:
    // 374 s → 51 s, exp 1.8 → 0.9). One skinny 15M-row exchange buys a
    // |Q|×-smaller pair shuffle at any scale.
    corpusTf(s, d).repartition(col("doc_id"))
      // idf table broadcast EXPLICITLY: an SMJ here would re-shuffle the
      // corpus by term and destroy the doc_id co-location the partial
      // agg depends on (vocab tables broadcast at any realistic size;
      // an extreme-vocab corpus would bucket both sides by term instead)
      .join(broadcast(idfTable(s, d)), "term")
      .crossJoin(broadcast(retrievalStats(s, d)))
      .join(broadcast(queryTerms(s, d)), "term")
      .select(col("qid"), col("doc_id").as("did"), col("idf6"), expr(
        s"CAST(floor(idf6 * (tf * ${bm25K1p1}D) / " +
          s"(tf + ${bm25K1}D * (1.0D - ${bm25B}D + ${bm25B}D * dl / " +
          "(CAST(sum_dl AS DOUBLE) / n_docs))) + 0.5D) AS BIGINT)")
        .as("c6"))
      .groupBy(col("qid"), col("did"))
      .agg(sum(col("c6")).as("s6"),
        sum(col("idf6") * col("idf6")).as("dot"))

  private def bm25Scores(s: SparkSession, d: String): DataFrame =
    pairScores(s, d).select(col("qid"), col("did"), col("s6"))

  /** Idf-weighted SET-cosine of every query doc against the corpus →
    * (qid, did, cos6): dot = Σ_{t∈q∩d} idf6², norms = Σ idf6² over each
    * side's distinct corpus-vocabulary terms. The deliberately DIFFERENT
    * ranking function from BM25 (no tf saturation, no length prior,
    * symmetric normalization) that the RRF fusion combines. Same linear
    * query-broadcast shape as [[bm25Scores]]; BIGINT dot/norm sums
    * (idf6² ≤ 4e13, so even a 100k-term doc stays inside BIGINT). */
  private def idfCosineScores(s: SparkSession, d: String): DataFrame = {
    val wt = idfTable(s, d)
    // norms run over each side's FULL distinct-term vector (honest
    // normalization); the dot comes from the shared pairScores stage
    val cn = corpusTf(s, d).join(wt, "term")
      .groupBy(col("doc_id").as("did"))
      .agg(sum(col("idf6") * col("idf6")).as("nb"))
    val qn = queryTerms(s, d).join(wt, "term")
      .groupBy(col("qid"))
      .agg(sum(col("idf6") * col("idf6")).as("na"))
    pairScores(s, d)
      .join(broadcast(qn), "qid")
      .join(cn, "did")
      .select(col("qid"), col("did"), col("s6"), expr(
        "CAST(floor(dot / (sqrt(CAST(na AS DOUBLE)) * " +
          "sqrt(CAST(nb AS DOUBLE))) * 1000000D + 0.5D) AS BIGINT)")
        .as("cos6"))
  }

  val queries: Map[String, Q] = Map(
    // L2a: MinHash-LSH. 16 affine permutations, 8 bands × 2 rows —
    // P(candidate | jaccard j) = 1-(1-j²)^8, ≈ 0.995 at j = 0.7.
    "dedup_minhash" -> ((s, d) =>
      minhashPairs(s, d).orderBy(col("id1"), col("id2"))),

    // L2d: connected components over the verified pair graph — the step
    // that turns pairwise matches into DEDUP GROUPS (keep one doc per
    // cluster). Pairs alone under-delete: if A~B and B~C but A!~C, pair
    // dropping can keep two of the three. Iterative min-label propagation:
    // every node starts as its own label; each round takes the min label
    // over itself and its neighbors; fixpoint = each cluster labeled by
    // its smallest doc_id.
    //
    // Scale shape: each round is one hash-shuffle join + agg over the
    // EDGE set (which near-dup verification already bounded — no N²
    // blowup); rounds needed = graph diameter, and dedup clusters are
    // shallow (planted fixture: diameter 1–2; web-dup clusters in
    // practice: < 10). Labels are cached per round so lineage doesn't
    // stack (localCheckpoint every 8 rounds truncates it for deep
    // graphs), and the convergence probe IS the cache-materializing
    // action — exactly ONE driver round-trip per iteration, aggregating
    // one scalar (sum of labels, strictly decreasing until fixpoint) —
    // the canonical Pregel driver loop, not a data collect. Round 1 is
    // fused into initialization (neighbor-min of identity labels needs
    // no join against a label table). A 50-round guard bounds the worst
    // case; at that depth switch to large-star/small-star (alternating
    // star-contraction converges in O(log² N) rounds on any graph).
    // The loop itself lives in [[labelPropagation]] (shared with the
    // deep-chain lineage test in GoldenSpec).
    "dedup_clusters" -> ((s, d) => {
      clusterLabels(s, d)
        .select(col("v").as("doc_id"), col("l").as("cluster"))
        .withColumn("n_in_cluster",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy(col("cluster"), col("doc_id"))
    }),

    // L2d-alt: the SAME dedup groups via alternating large-star/small-star
    // contraction — the registered entry for [[starContraction]], so the
    // O(log² N)-round deep-graph path is exercised by the cross-engine
    // oracle (identical recursive-CTE twin as dedup_clusters: both
    // algorithms converge to component-minimum labels; PropertySpec pins
    // the equivalence on random graphs, this row pins it on the fixture
    // corpus end-to-end). Production guidance lives on the two methods:
    // label-prop for shallow dup graphs, star contraction when diameter is
    // unknown or deep.
    "dedup_clusters_star" -> ((s, d) => {
      starLabels(s, d)
        .select(col("v").as("doc_id"), col("l").as("cluster"))
        .withColumn("n_in_cluster",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy(col("cluster"), col("doc_id"))
    }),

    // L2d-sql: the SAME dedup groups a THIRD way — declaratively, as a
    // Spark 4 recursive CTE (WITH RECURSIVE → UnionLoop): transitive
    // closure over the verified pair set, min(reached) per doc. Spark's
    // recursive CTEs are UNION ALL-only (UNION-distinct is rejected), so
    // on an undirected (cyclic) edge set the closure carries an explicit
    // visited-path array and extends simple paths only — the textbook
    // cycle guard; the component minimum is reachable from every member
    // via some simple path, so min(l) is still the exact fixpoint both
    // iterative algorithms converge to.
    //
    // Scale contract, stated honestly: simple-path enumeration is
    // factorial in clique size, so this form is for SMALL components
    // (near-dup clusters: the fixture's are size ≤ 3, production dup
    // groups rarely exceed dozens) and for pinning the declarative
    // semantics; component graphs with unknown/deep structure take the
    // labelPropagation or starContraction rows instead. The tiny verified
    // edge set is localCheckpoint-materialized first so each UnionLoop
    // iteration re-joins a cached table, not the whole minhash pipeline.
    "dedup_clusters_sql" -> ((s, d) => {
      val pairs = minhashPairs(s, d)
        .select(col("id1").as("a"), col("id2").as("b"))
      val edges = pairs.union(pairs.select(col("b"), col("a")))
        .localCheckpoint(true)
      edges.createOrReplaceTempView("dup_edges_sql")
      s.sql("""
        WITH RECURSIVE reach(v, l, path) AS (
          SELECT a, a, array(a) FROM dup_edges_sql
          UNION ALL
          SELECT e.a, r.l, array_append(r.path, e.a)
          FROM dup_edges_sql e JOIN reach r ON r.v = e.b
          WHERE NOT array_contains(r.path, e.a)
        )
        SELECT doc_id, cluster,
               CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
                 AS n_in_cluster
        FROM (SELECT v AS doc_id, min(l) AS cluster FROM reach GROUP BY v)
        ORDER BY cluster, doc_id""")
    }),

    // L2b: SimHash. 64-bit signature over the shingle-hash set (the tiny
    // fixture vocabulary makes token-level SimHash indiscriminate), 16-bit
    // blocking: hamming ≤ 3 ⇒ at least one of the 4 blocks is intact
    // (pigeonhole). Verification is a single bit_count per candidate.
    //
    // The shingle hashes are mod 1e9+7 (~30 significant bits), so bit k of
    // the signature CANNOT come from bit k of the hash — bits 30..63 would
    // be identically zero and the top 16-bit blocks would each collapse
    // into one all-pairs bucket. Instead each (feature, k) pair votes via
    // bit 15 of LCG(h_k(x)) where h_k is the affine permutation family
    // ((2k+1)·x + k²·7919 + 1) mod 1e9+7 — the SAME family as the MinHash
    // permutations, for the same reason: k must enter MULTIPLICATIVELY.
    // An additive k-offset (LCG(x + k·C)) makes the per-k LCG states
    // differ by a CONSTANT (the LCG is affine), so bit 15 across k is a
    // constant-offset threshold of one state — measured on the fixture it
    // collapsed 500 docs to 17 signatures and 53 348 "pairs". Per-k
    // multipliers decorrelate the vote families (500/500 distinct sigs,
    // mean pairwise hamming 31.9 ≈ the ideal 32). Mid LCG bit, not low:
    // low bits of a power-of-two-modulus LCG are periodic. All operands
    // stay < 2^61 so neither engine overflows; bit 63 lands via Java's
    // wrapping shiftleft (the signature is a bit pattern, not a
    // magnitude) — DuckDB's << raises on 1 << 63, so the twin
    // special-cases that one bit as the min-long literal.
    // simhash_sig (functions/SimHashSig.scala) is the native form of the
    // HOF double-aggregate — same votes, one fused codegen loop instead of
    // bits × |shl| ≈ 4 096 interpreted lambda frames per doc
    // (PropertySpec pins the bit-equality).
    "dedup_simhash" -> ((s, d) =>
      simhashCandidates(s, d)
        .filter(col("hamming") <= 3)
        .orderBy(col("id1"), col("id2"))),

    // L2b at the 1e9+-docs blocking geometry the header note prescribes:
    // the PERMUTATION-TABLE path — 8 blocks of 8 bits, keys = all C(8,5)
    // 5-block combinations (56 positions × 2^40 bucket values) instead of
    // 4 single 16-bit blocks (4 × 2^16). Same hamming ≤ 3 guarantee
    // (≤ 3 flipped bits touch ≤ 3 blocks, so 5 intact blocks always
    // contain a keyed combination — pigeonhole), so the OUTPUT is
    // provably identical to dedup_simhash; what changes is bucket
    // cardinality: 2^40-value keys keep per-bucket pair counts flat at
    // corpus sizes where 65 536 buckets saturate into all-pairs work.
    // The oracle replays the (8, 5) candidate mechanism itself.
    "dedup_simhash_perm" -> ((s, d) =>
      simhashCandidates(s, d, blocks = 8, combo = 5)
        .filter(col("hamming") <= 3)
        .orderBy(col("id1"), col("id2"))),

    // L2e: CONTAINMENT similarity — |A∩B| / min(|A|,|B|) over the shingle
    // sets — the asymmetric measure that catches near-SUBSET duplication
    // (doc B extends doc A with a boilerplate header/footer), which
    // symmetric jaccard under-scores as sizes diverge: a doc fully
    // contained in one 2× its size has jaccard ≤ 0.5 but containment 1.0.
    // Candidates come from the shared MinHash bands; the honest caveat —
    // documented, not hidden — is that symmetric-jaccard banding
    // under-recalls HIGH-containment/LOW-jaccard pairs at extreme size
    // ratios (P(band match) tracks jaccard, not containment); the scale
    // remedy is asymmetric blocking (band only the smaller side's prefix
    // shingles, or df-weighted rare-shingle keys), which changes only the
    // candidate CTE on both engines.
    "dedup_containment" -> ((s, d) => {
      CosineSim.register(s)
      val sigs = minhashSigs(s, d)
      bandCandidates(s, d)
        .join(sigs.select(col("doc_id").as("id1"), col("shl").as("s1")), "id1")
        .join(sigs.select(col("doc_id").as("id2"), col("shl").as("s2")), "id2")
        .select(col("id1"), col("id2"),
          round(size(array_intersect(col("s1"), col("s2"))).cast("double") /
            least(size(col("s1")), size(col("s2"))), 6).as("containment"))
        .filter(col("containment") >= 0.7)
        .orderBy(col("id1"), col("id2"))
    }),

    // L2f: repeated-span detection — the exact-substring dedup SIGNAL
    // (Lee et al., "Deduplicating Training Data Makes Language Models
    // Better"): every 5-token window hash occurring in >= 2 DISTINCT
    // documents is a repeated span (boilerplate headers, license blocks,
    // templated text), reported with its document frequency and the first
    // document carrying it. Windows come per-doc-DISTINCT off the cached
    // token-hash index (native ngram_hashes — array loads, no re-hashing),
    // so count(*) IS the document frequency. Shape: one explode → one
    // hash-partitioned agg — word-count shape, map-side partial combine,
    // linear at 100 TB. A full suffix-array dedup REMOVES the spans; this
    // is the distributed detection pass that feeds that removal (the
    // removal itself is a per-doc rewrite keyed by these gram hashes).
    "dedup_repeated_ngrams" -> ((s, d) =>
      tokens(s, d)
        .filter(size(col("tokh")) >= 5)
        .select(col("doc_id"), explode(expr("ngram_hashes(tokh, 5)")).as("gram"))
        .groupBy(col("gram"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("gram"))),

    // L2f': exact-substring dedup REMOVAL (Lee et al. 2021,
    // arXiv:2107.06499 §ExactSubstr, r11 verdict #3) — the production op
    // the detection pass above feeds: every ≥ substrG(=50)-token span
    // that appears in ≥ 2 distinct documents is REMOVED (from every
    // occurrence — the conservative variant: after the pass, no
    // duplicated ≥ 50-token span remains anywhere, which is also what
    // makes the rewrite idempotent; GoldenSpec pins re-running on the
    // cleaned corpus drops nothing). Removal keys on the DUAL-MODULUS
    // gram pair (ADVICE r12 — see substringRemoveOf step 2 for the
    // collision envelope). Output is one row per KEPT segment:
    // (doc_id, seg, tok_start, tok_end, kept_text) — untouched docs keep
    // their full range, fully-duplicated docs emit no rows.
    // See substringRemoveOf for the mechanism and the 100 TB shape.
    "dedup_substring_remove" -> ((s, d) =>
      substringRemoveOf(tokens(s, d), substrG)
        .orderBy(col("doc_id"), col("seg"))),

    // L2f'': C4/RefinedWeb-style LINE-LEVEL corpus dedup (r12 verdict
    // "what's missing" #1 — the single most-used text cleanup in
    // production pretraining builds): any normalized (lower+trim) line
    // occurring ≥ 2 times ACROSS THE CORPUS is boilerplate (nav bars,
    // footers, cookie banners); every occurrence except the FIRST — min
    // (doc_id, line_no) — is removed. Choices documented: occurrences
    // count repeats WITHIN a doc too (intra-doc templating is the same
    // boilerplate), keep-first rather than C4's remove-at-df≥3 (the
    // RefinedWeb/MassiveText keep-one variant — deterministic and
    // idempotent: after the pass every surviving normalized line is
    // corpus-unique, so a re-run removes nothing; GoldenSpec pins both),
    // and EMPTY normalized lines are exempt (paragraph structure is not
    // boilerplate). Output: one row per doc — kept-line rewrite + the
    // removal audit (n_lines, n_removed); a fully-boilerplate doc
    // surfaces as kept_text = ''.
    //
    // Scale shape (the dedup_substring_remove word-count + rewrite
    // discipline): one explode → one agg KEYED BY THE LINE ITSELF
    // (count + min-struct keeper, both map-side combinable, so a line
    // duplicated 10⁹ times partial-aggregates before the shuffle) → one
    // enrich join back on the line key (1 row per distinct line on the
    // build side; AQE skew-join splits the hot-line partitions) → one
    // doc-keyed rebuild agg. Keying on the full normalized STRING makes
    // removal EXACT — no hash-collision envelope at all (the
    // dual-modulus discussion in substringRemoveOf does not arise);
    // the heavier string shuffle is the price, and a poly_hash pre-key
    // with string verify is the documented optimization if the shuffle
    // ever dominates.
    "dedup_lines_remove" -> ((s, d) =>
      linesRemoveOf(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // L2g: EXACT set-similarity join via prefix filtering (the
    // AllPairs/PPJoin family) — the deterministic complement to MinHash:
    // LSH banding is probabilistic (P(candidate | j = 0.5) ≈ 0.90 under
    // the 8×2 geometry, so true pairs CAN slip through), while the prefix
    // filter is a THEOREM: order every doc's shingles by a global total
    // order (ascending document frequency — rarest first — then hash),
    // and any pair with jaccard ≥ τ MUST collide on the first
    // |A| − ⌈τ·|A|⌉ + 1 elements of each side. Candidates therefore
    // provably contain every qualifying pair; the exact verify only
    // REMOVES false positives, and the output is the complete jaccard ≥
    // 0.5 pair set — the guarantee a contamination/eval-leak audit needs
    // where "minhash missed it" is not an acceptable answer (GoldenSpec
    // pins minhash ⊆ prefix on the fixture).
    //
    // Shape at 100 TB: df ranking is word-count (one agg keyed by
    // shingle); per-doc ordering is a window keyed by doc_id (maximal
    // parallelism, bounded state); the self-join keys on SHINGLE VALUES —
    // content-derived buckets that grow with the corpus, and rarest-first
    // prefixes make hot buckets structurally impossible (a shingle enters
    // prefixes precisely when it is RARE; the ubiquitous ones sit at the
    // tails that never join). The ⌈τ·sz⌉ arithmetic stays in integers
    // ((sz + 1) DIV 2 — no float boundary on either engine), and the
    // size-ratio filter 2·min ≥ max prunes cross-size candidates before
    // DISTINCT.
    // Scale tuning (measured at the 10× GenScale corpus, where the
    // FIXED 31-word vocabulary saturates the trigram universe at 29,791
    // and candidate volume turns quadratic — SCALING.md has the full
    // regime analysis):
    //   1. PPJoin POSITIONAL filter in the join condition — a pair's
    //      first common prefix element at ranks (rka, rkb) bounds the
    //      overlap by min(sza−rka, szb−rkb)+1, and jaccard ≥ τ needs
    //      overlap ≥ ⌈τ/(1+τ)·(sza+szb)⌉ = (sza+szb+2) DIV 3 at τ=0.5
    //      (pure integers — no float boundary cross-engine). Completeness
    //      holds: a qualifying pair's FIRST common element always passes
    //      (all its common elements sit at ranks ≥ that row's). Measured
    //      2.2× candidate-row cut on the saturated corpus.
    //   2. groupBy(id1, id2) replaces DISTINCT — same shuffle, one pass.
    //   3. The verify joins BROADCAST the sets table explicitly: it is
    //      corpus-linear but TINY next to the candidate stream (50 k rows
    //      vs 17 M pairs at 10×), and without the hint the planner's
    //      size estimate tips it into a sort-merge join of the candidate
    //      stream — measured 5× the whole query. At true 100 TB scale the
    //      verify instead shuffles candidates by id against bucketed
    //      sets; the fixture-scale broadcast is the same plan a
    //      dimension join would pick.
    "dedup_prefix_filter" -> ((s, d) =>
      ppjoinPairs(s, d).orderBy(col("id1"), col("id2"))),

    // Banding RECALL, measured against exact ground truth — the honesty
    // meter for the whole MinHash family (the dedup analogue of
    // similarity_recall_eval / similarity_ann_assign_eval): the PPJoin
    // pair set is provably COMPLETE at jaccard ≥ 0.5, so left-joining it
    // against the band-collision candidate set measures, per jaccard
    // decile, the probability 1-(1-j^r)^b the banding theory promises —
    // read THIS before trading dedup_prefix_filter's exact join for
    // dedup_minhash at a new threshold. Near-threshold buckets are
    // EXPECTED to lose pairs (j=0.5 → ~66% with 8 bands × 2 rows);
    // high-j buckets must not.
    //
    // Scale shape: both inputs are the already-bucketed/banded pipelines
    // (nothing all-pairs), the join is pair-keyed, the output is ≤ 6
    // decile rows.
    "dedup_minhash_recall" -> ((s, d) => {
      val truth = ppjoinPairs(s, d)
      val caught = bandCandidates(s, d).withColumn("hit", lit(1L))
      truth.join(caught, Seq("id1", "id2"), "left_outer")
        .select(expr("floor(jaccard * 10) / 10").as("bucket"), col("hit"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
        .select(col("bucket"), col("n_true"), col("n_caught"),
          expr("floor(n_caught * 1000000.0D / n_true + 0.5D) / 1000000D")
            .as("recall"))
        .orderBy(col("bucket"))
    }),

    // L2f: character-level edit-distance verification of the shared
    // MinHash band candidates — the classic near-dup metric at the
    // granularity the token-level jaccard verifies can't see (a single
    // in-word typo changes a whole token and its three shingles; it
    // changes ONE character here). levenshtein is a builtin unit-cost DP
    // on both engines (exact integers — no float discipline needed);
    // the relative bound 5·dist ≤ max(len) keeps pairs within 20% edits
    // of the longer doc. Candidates bound the O(len²) DP to band
    // collisions — never all-pairs — and the doc-text joins are id-keyed.
    // The DP is the cost: unbounded levenshtein is O(len²) PER CANDIDATE
    // and the saturated fixture's banding emits enough collisions that
    // the first cut measured 135 s at sf1 (the round's one scale-killer).
    // Bound = ≤ 1 edit per 10 chars of the longer doc (the standard
    // near-dup rate; a fifth of the doc rewritten is revision, not
    // near-duplication). Three prunes, all LOSSLESS for the reported
    // set: (1) LENGTHS join before texts — candidates failing the cheap
    // |l1−l2| ≤ dist ≤ max(len)/10 implication never ship their string
    // payloads; (2) the length prefilter itself; (3) the BANDED
    // threshold form — dist ≤ max(len)/10 is known up front, so the DP
    // explores only the 2·k+1 diagonal band (O(len·k), −1 beyond k),
    // which the final filter drops anyway. 135 s → 3.9 s at sf1; the
    // residual growth is candidate volume, the banding's documented
    // saturated regime. The twin keeps plain levenshtein + the same
    // final bound — identical qualifying rows by construction.
    "dedup_edit_distance" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"))
      val lens = docs.select(col("doc_id"), col("len"))
      bandCandidates(s, d)
        .join(lens.select(col("doc_id").as("id1"), col("len").as("l1")), "id1")
        .join(lens.select(col("doc_id").as("id2"), col("len").as("l2")), "id2")
        .filter(expr("10 * abs(l1 - l2) <= greatest(l1, l2)"))
        .join(docs.select(col("doc_id").as("id1"), col("text").as("t1")), "id1")
        .join(docs.select(col("doc_id").as("id2"), col("text").as("t2")), "id2")
        .select(col("id1"), col("id2"), expr(
          "CAST(levenshtein(t1, t2, CAST(greatest(l1, l2) DIV 10 AS INT)) " +
            "AS BIGINT)").as("dist"),
          greatest(col("l1"), col("l2")).as("mx"))
        .filter(col("dist") >= 0 && col("dist") * 10 <= col("mx"))
        .select(col("id1"), col("id2"), col("dist"))
        .orderBy(col("id1"), col("id2"))
    }),

    // Sparse idf-weighted cosine top-k over the SAME shingle space — the
    // third similarity measure on the shared index (jaccard = unweighted
    // overlap, containment = subset-normalized, this = rarity-weighted):
    // w(sh) = ln((N+1)/(df+1)), cosine(A, B) = Σ_{A∩B} w² / (‖A‖·‖B‖),
    // so a match on rare shingles outscores the same count of ubiquitous
    // ones — the retrieval-grade ranking a boilerplate-heavy corpus needs
    // (shared license headers are high-df → weighted to ~nothing).
    //
    // Shape: the inverted index IS the join — postings keyed by shingle
    // value self-join within postings, and because the weight is a
    // function of the SHINGLE alone, each co-occurrence row carries its
    // own dot-product term (wmic²): one self-join + one (id1, id2) hash
    // agg computes every pair's dot directly — no DISTINCT, no
    // re-joining vectors back per candidate (the first cut did; at sf0.1
    // that re-join was 4× the whole suite's median query). The df ≤ 50
    // cap bounds within-posting fan-out at C(50, 2) — the standard
    // impact-pruning trade, and at both fixture SFs it is INERT (deepest
    // posting: df = 25), so the capped dot equals the exact dot; at
    // corpus scale the dropped terms are the ~zero-idf² ones by
    // construction. Norms stay over ALL shingles (honest normalization).
    // Weights are 1e-6-fixed INTEGERS; dot/norms sum them exactly
    // (order-independent BIGINT adds — the cross-engine float
    // discipline); the only doubles are the final sqrt/divide, identical
    // expression trees on both engines. Long headroom: wmic ≤ ln(N)·1e6
    // < 2.4e7 at N = 1e9, so wmic² < 5.8e14 and a 10k-shingle doc's
    // norm² < 5.8e18 — inside BIGINT; norm² products cross to DOUBLE
    // via separate sqrts before multiplying.
    "similarity_sparse_topk" -> ((s, d) => {
      val sets = shingleSets(s, d)
      val ex = sets.select(col("doc_id"), explode(col("shl")).as("sh"))
      val n = sets.agg(count(lit(1)).as("n_docs"))
      val wt = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .select(col("sh"), col("df"), expr(
          "CAST(floor(round(ln((n_docs + 1.0D) / (df + 1.0D)), 6) " +
            "* 1000000D + 0.5D) AS BIGINT)").as("wmic"))
      // materialized: the weighted index feeds both the norm agg and the
      // self-join's two sides — un-cached, the explode + weight join
      // would recompute per consumer (the tokens() inlining lesson)
      val vec = materialized(ex.join(wt, "sh"))
      val norms = vec.groupBy(col("doc_id"))
        .agg(sum(col("wmic") * col("wmic")).as("n2"))
      val post = vec.filter(col("df") <= 50)
        .select(col("doc_id"), col("sh"), col("wmic"))
      post.as("a").join(post.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .agg(sum(expr("a.wmic * b.wmic")).as("dot"))
        .join(norms.select(col("doc_id").as("id1"), col("n2").as("na")), "id1")
        .join(norms.select(col("doc_id").as("id2"), col("n2").as("nb")), "id2")
        .select(col("id1"), col("id2"), expr(
          "floor(dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) " +
            "* 1000000D + 0.5D) / 1000000D").as("cosine"))
        .orderBy(col("cosine").desc, col("id1"), col("id2"))
        .limit(15)
    }),

    // Okapi BM25 retrieval: top-10 corpus docs for EACH of the adaptive
    // query batch (the text twin of similarity_knn_batch — tf saturation
    // k1=1.2, length prior b=0.75, corpus-side-only collection stats).
    // See bm25Scores for the float discipline and the linear scale shape:
    // posting fan-out is the broadcast query side, so total work is
    // ≤ |queries| · corpus tokens with NO df cap needed, and the final
    // ranking is one window keyed by the bounded query id.
    "similarity_bm25_topk" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"))
        .orderBy(col("s6").desc, col("did"))
      bm25Scores(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("qid"), col("did"), col("rk"),
          expr("s6 / 1000000.0D").as("bm25"))
        .orderBy(col("qid"), col("rk"))
    }),

    // Reciprocal-rank fusion (Cormack et al. 2009) of two genuinely
    // different retrievers over the same query batch: BM25 (tf-saturating,
    // length-normalized) and idf-weighted set cosine (tf-blind,
    // symmetric). Each list is cut at rrfDepth=20, a doc scores
    // Σ 1/(60 + rank) over the lists it appears in, and the fused top-10
    // per query is the hybrid-retrieval serving shape (the sparse half of
    // a dense+sparse RAG stack). Rank contributions are fixed-point
    // integers — floor(1e6/(60+r)) — so the fusion sum is exact and
    // order-independent on both engines; ranks themselves are window
    // row_numbers with (score DESC, did) determinism. Scale: both
    // retrievers are the linear query-broadcast shape, the fusion is a
    // full outer join of two ≤ |queries|·20-row lists — driver-free and
    // tiny regardless of corpus size.
    "similarity_rrf_fusion" -> ((s, d) => {
      // BOTH retrievers rank the SAME candidate pair set (pairs sharing
      // ≥ 1 corpus-vocab term carry both a BM25 sum and an idf²-dot), so
      // the two rankings are two row_numbers over ONE qid shuffle —
      // consecutive Window operators on one exchange, no second scorer
      // pipeline, no full-outer join (the first cut ran two pipelines
      // plus the join; column pruning made their exchanges non-reusable
      // and the fixture paid every stage twice). A rank is reported only
      // within rrfDepth; beyond-depth ranks NULL out exactly like the
      // absent side of the fused-lists formulation the DuckDB twin
      // replays, so the answers are identical by construction.
      val wa = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("s6").desc, col("did"))
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos6").desc, col("did"))
      val wf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("rrf6").desc, col("did"))
      idfCosineScores(s, d)
        .withColumn("ra0", row_number().over(wa).cast("long"))
        .withColumn("rb0", row_number().over(wb).cast("long"))
        .filter(col("ra0") <= rrfDepth || col("rb0") <= rrfDepth)
        .select(col("qid"), col("did"),
          when(col("ra0") <= rrfDepth, col("ra0")).as("ra"),
          when(col("rb0") <= rrfDepth, col("rb0")).as("rb"))
        .withColumn("rrf6", expr(
          s"coalesce(CAST(floor(1000000.0D / ($rrfK + ra)) AS BIGINT), 0L) + " +
            s"coalesce(CAST(floor(1000000.0D / ($rrfK + rb)) AS BIGINT), 0L)"))
        .withColumn("rk", row_number().over(wf).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("qid"), col("did"), col("rk"), col("ra"), col("rb"),
          expr("rrf6 / 1000000.0D").as("rrf"))
        .orderBy(col("qid"), col("rk"))
    }),

    // L2c: exact word-bigram Jaccard as the verify kernel over the SHARED
    // MinHash band candidates (length-blocking was replaced: its bucket
    // count is bounded by max document length — O(N²/const) pairs at
    // scale). A set-size-ratio pre-filter bounds the exact intersections:
    // |A∩B|/|A∪B| ≥ τ forces min(|A|,|B|)/max(|A|,|B|) ≥ τ.
    "dedup_ngram_jaccard" -> ((s, d) =>
      ngramPairs(s, d).orderBy(col("id1"), col("id2"))),

    // Novelty scoring — the inverse signal of the dedup family: the
    // fraction of a document's distinct shingles seen NOWHERE else in the
    // corpus (df = 1). Data-pruning pipelines read this next to the
    // quality score: a near-zero-novelty doc is template/boilerplate even
    // when no single pair crosses the near-dup threshold, and an
    // all-novel doc is the diversity the mixture wants kept. Runs off
    // the same cached shingle index as the dedup queries.
    //
    // Scale shape: word-count twice — one shingle-keyed df agg, one
    // doc-keyed ratio agg — joined on the content-derived shingle key.
    // Linear, map-side combinable, no bounded-cardinality blocking.
    "curation_novelty" -> ((s, d) =>
      noveltyOf(s, d).orderBy(col("doc_id"))),

    // Pareto-front document selection — the efficient frontier of the
    // (quality, novelty) plane: a doc is kept iff NO other doc is at
    // least as good on both axes and strictly better on one. This is
    // the multi-criteria keep decision a mixture designer actually
    // faces (quality alone keeps templates; novelty alone keeps noisy
    // outliers; the frontier is the non-dominated tradeoff set).
    //
    // Distributed 2D skyline with NO global-order window (the suite
    // guard): bucket quality into 32 fixed-width ranges from a
    // broadcast extent, reduce to one row per DISTINCT quality (max
    // novelty), take the strictly-preceding running max per bucket
    // (bounded partitions) and the cross-bucket sup from a 32×32
    // broadcast self-join — their max is the exact "best novelty at
    // strictly higher quality" bound M>(q). A doc is on the front iff
    // its novelty equals its quality level's max AND beats M>(q).
    // Identical (q, n) duplicates don't dominate each other and all
    // stay, the standard skyline tie rule. At 100 TB the bucket count
    // scales with the cluster; everything else is two corpus-wide
    // hash shuffles (group by q, join back on q).
    "curation_pareto_front" -> ((s, d) => {
      // the per-doc score table and the per-distinct-quality level table
      // are each read by several branches below (extent, bucket maxima,
      // suffix max, final join-back) — materialize both once (the
      // "build the index once" discipline), or every branch replays the
      // novelty df-join pipeline
      val pts = materialized(TextOps.qualityOf(Tables.documents(s, d))
        .select(col("doc_id"), col("quality").as("q"))
        .join(noveltyOf(s, d).select(col("doc_id"), col("novelty").as("n")),
          "doc_id"))
      val ext = pts.agg(min(col("q")).as("qlo"), max(col("q")).as("qhi"))
      val withK = pts.crossJoin(broadcast(ext))
        .withColumn("k", expr("least(CAST(floor((q - qlo) * 32D / " +
          "greatest(qhi - qlo, 1e-12D)) AS BIGINT), 31L)"))
      val byQ = materialized(
        withK.groupBy(col("k"), col("q")).agg(max(col("n")).as("mx")))
      val bmax = byQ.groupBy(col("k")).agg(max(col("mx")).as("bmx"))
      val sup = bmax.as("a")
        .join(bmax.as("b"), col("b.k") > col("a.k"), "left")
        .groupBy(col("a.k")).agg(max(col("b.bmx")).as("sup"))
        .select(col("a.k").as("k"), col("sup"))
      val wPrev = Window.partitionBy(col("k")).orderBy(col("q").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val qlev = byQ.withColumn("prevmax", max(col("mx")).over(wPrev))
        .join(broadcast(sup), Seq("k"), "left")
        .withColumn("dom", greatest(coalesce(col("prevmax"), lit(-1.0)),
          coalesce(col("sup"), lit(-1.0))))
        .select(col("q"), col("mx"), col("dom"))
      withK.join(qlev, Seq("q"))
        .filter(col("n") === col("mx") && col("mx") > col("dom"))
        .select(col("doc_id"), col("q").as("quality"), col("n").as("novelty"))
        .orderBy(col("doc_id"))
    }),

    // L2k: SNAPSHOT-INCREMENTAL dedup — the production ingestion shape
    // (web-crawl dump N+1 graded against the accumulated corpus). The
    // corpus splits at cutoff = max(doc_id)·7 DIV 10: docs ≤ cutoff are the
    // BASE (already ingested, already indexed), docs above it are the NEW
    // snapshot. Each new doc is graded against every EARLIER doc (base or
    // earlier-new — keep-first-by-doc_id, the same total order every dedup
    // op in this file uses):
    //   exact leg: sha-256 of the normalized text seen earlier → drop_exact
    //     (run FIRST, as production does — it is one hash join and removes
    //     the bulk before the LSH sees anything);
    //   near leg: MinHash-LSH candidates verified at shingle jaccard ≥ 0.5,
    //     byte-identical kernel to dedup_minhash → drop_near (exact wins
    //     the label when both legs hit, so the drop reason is auditable).
    // Scale shape — the point of the op: the band join is bands(NEW) ⋈
    // bands(ALL), never all × all, so per snapshot the work is |new| ×
    // bucket occupancy, independent of base size beyond the index probe.
    // At 100 TB the base band index and hash set are MAINTAINED tables
    // (the Memo registry's shape; Streams.nearDupStream appends to the
    // same index incrementally) — this query rebuilds them from the
    // fixture because the fixture has no prior snapshot to inherit.
    "dedup_incremental" -> ((s, d) => {
      CosineSim.register(s)
      val cut = Tables.documents(s, d)
        .agg(expr("max(doc_id) * 7 DIV 10").as("cut"))
      val hashed = Tables.documents(s, d)
        .select(col("doc_id"), sha2(lower(trim(col("text"))), 256).as("h"))
        .crossJoin(broadcast(cut))
      val exact = hashed.as("n").filter(col("n.doc_id") > col("n.cut"))
        .join(hashed.as("o"),
          col("o.h") === col("n.h") && col("o.doc_id") < col("n.doc_id"),
          "left")
        .groupBy(col("n.doc_id").as("doc_id"))
        .agg(min(col("o.doc_id")).as("exact_partner"))
      val sigs = minhashSigs(s, d)
      val bands = bandsOf(sigs)
      val newBands = bands.crossJoin(broadcast(cut))
        .filter(col("doc_id") > col("cut"))
        .select(col("doc_id"), col("bd"), col("sig"))
      val cand = bands.as("a").join(newBands.as("b"),
          col("a.bd") === col("b.bd") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct()
      val near = cand
        .join(sigs.select(col("doc_id").as("id1"), col("shl").as("s1"),
          col("mh").as("m1")), "id1")
        .join(sigs.select(col("doc_id").as("id2"), col("shl").as("s2"),
          col("mh").as("m2")), "id2")
        .filter(expr("size(filter(zip_with(m1, m2, (x, y) -> x = y), v -> v)) >= 5"))
        .filter(round(expr("jaccard_sim(s1, s2)"), 6) >= 0.5)
        .groupBy(col("id2").as("doc_id"))
        .agg(min(col("id1")).as("near_partner"))
      exact.join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_partner").isNotNull, lit("drop_exact"))
            .when(col("near_partner").isNotNull, lit("drop_near"))
            .otherwise(lit("keep")).as("action"),
          coalesce(col("exact_partner"), col("near_partner")).as("partner"))
        .orderBy(col("doc_id"))
    })
  )

  /** The VERIFIED bigram-jaccard pair set, memoized as a derived index
    * table (graft.Memo): three registered consumers read it —
    * dedup_ngram_jaccard itself and both Pipeline compositions — and a
    * near-dup pair list is exactly the train-once-serve-many shape (a
    * production pipeline materializes it once per corpus snapshot, every
    * downstream job joins it). Lazily cache()d like the stored-index
    * tables: the first consumer materializes while computing its own
    * answer, later consumers read blocks. */
  private[queries] def ngramPairs(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s.sparkContext.applicationId, s"ngram_pairs:$d") {
      CosineSim.register(s)
      val grams = materialized(tokens(s, d)
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"),
          expr("array_distinct(transform(sequence(0, size(toks) - 2), " +
            "i -> concat_ws(' ', slice(toks, i + 1, 2))))").as("g"))
        .withColumn("sz", size(col("g"))))
      bandCandidates(s, d)
        .join(grams.select(col("doc_id").as("id1"), col("g").as("g1"),
          col("sz").as("z1")), "id1")
        .join(grams.select(col("doc_id").as("id2"), col("g").as("g2"),
          col("sz").as("z2")), "id2")
        .filter(least(col("z1"), col("z2")).cast("double") /
          greatest(col("z1"), col("z2")) >= 0.5)
        .select(col("id1"), col("id2"),
          round(expr("jaccard_sim(g1, g2)"), 6).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .cache()
    }

  /** Shared DuckDB CTE chain replaying `bandCandidates` bit-for-bit:
    * sets → sigsm (minhash sigs) → bsigs (band keys) → cand (id1 < id2). */
  private val duckBandCand: String =
    s"sets AS ($duckShingleSets), " +
      "sigsm AS (SELECT doc_id, shl, list_transform(range(16), p -> " +
      "list_min(list_transform(shl, x -> ((2*p+1) * x + (p*p*7919 + 1)) " +
      "% 1000000007))) AS mh FROM sets), " +
      "bsigs AS (SELECT doc_id, bd, " +
      "CAST(mh[2*bd+1] AS VARCHAR) || '-' || CAST(mh[2*bd+2] AS VARCHAR) AS sig " +
      "FROM sigsm, range(8) t(bd)), " +
      "cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bsigs a " +
      "JOIN bsigs b ON a.bd = b.bd AND a.sig = b.sig AND a.doc_id < b.doc_id)"

  /** The 64-bit SimHash signature CTE shared by both simhash oracles —
    * byte-for-byte the native simhash_sig votes (LCG bit 15 over the
    * multiplicative permutation family; bit 63 via the min-long literal
    * because DuckDB's << raises on 1 << 63). */
  private val duckSims: String =
    s"sets AS ($duckShingleSets), " +
      "sims AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), range(64)), " +
      "(acc, k) -> acc + CASE WHEN list_sum(list_transform(shl, " +
      "x -> CASE WHEN (((1103515245 * (((2 * k + 1) * x + k * k * 7919 + 1) " +
      "% 1000000007) + 12345) % 2147483648) // 32768) % 2 = 1 THEN 1 ELSE -1 END)) >= 0 " +
      "THEN (CASE WHEN k = 63 THEN (-9223372036854775807 - 1)::BIGINT " +
      "ELSE CAST(1 AS BIGINT) << k END) ELSE 0 END) AS sim FROM sets)"

  /** DuckDB replay of `simhashCandidates(blocks, combo)` + the hamming ≤ 3
    * verify: the position table is the same compile-time combination list,
    * emitted as VALUES rows, and keys pack the chosen block values with
    * identical shift/mask arithmetic (`>>` sign-extends in DuckDB exactly
    * like Spark's shiftright; the mask discards the extended bits). */
  private def duckSimPerm(blocks: Int, combo: Int): String = {
    val w = 64 / blocks
    val mask = (1L << w) - 1
    val vals = (0 until blocks).combinations(combo).toSeq.zipWithIndex
      .map { case (bs, idx) => s"($idx, ${bs.mkString(", ")})" }.mkString(", ")
    val cols = (0 until combo).map(i => s"b$i").mkString(", ")
    val key = (0 until combo)
      .map(i => s"(((sim >> (b$i * $w)) & $mask) * ${1L << (i * w)})")
      .mkString(" + ")
    s"WITH $duckSims, " +
      s"positions(pid, $cols) AS (VALUES $vals), " +
      s"keys AS (SELECT doc_id, sim, pid, $key AS blk FROM sims, positions), " +
      "cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, " +
      "CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming FROM keys a " +
      "JOIN keys b ON a.pid = b.pid AND a.blk = b.blk AND a.doc_id < b.doc_id) " +
      "SELECT id1, id2, hamming FROM cand WHERE hamming <= 3 ORDER BY id1, id2"
  }

  /** Transitive closure by recursive CTE: `reach` accumulates every label
    * reachable from each node over the verified-pair edges; min(reach) is
    * the component-minimum fixpoint BOTH Spark algorithms (min-label
    * propagation and star contraction) iterate to — shared by the
    * dedup_clusters and dedup_clusters_star rows. */
  /** The CTE chain up to `lbl` (doc_id → component-minimum cluster) —
    * shared by the two cluster oracles and curation_keep_best's twin
    * (which joins quality onto the labels). Must follow WITH RECURSIVE. */
  private[graft] val duckClusterCtes: String =
    s"$duckBandCand, " +
      "mpairs AS (SELECT id1, id2 FROM (SELECT id1, id2, " +
      "round(len(list_intersect(s1.shl, s2.shl)) / CAST(len(s1.shl) + len(s2.shl) " +
      "- len(list_intersect(s1.shl, s2.shl)) AS DOUBLE), 6) AS jaccard " +
      "FROM cand JOIN sigsm s1 ON s1.doc_id = id1 JOIN sigsm s2 ON s2.doc_id = id2 " +
      "WHERE len(list_filter(range(16), p -> s1.mh[p+1] = s2.mh[p+1])) >= 5) " +
      "WHERE jaccard >= 0.5), " +
      "edges AS (SELECT id1 AS a, id2 AS b FROM mpairs " +
      "UNION SELECT id2, id1 FROM mpairs), " +
      "reach(v, l) AS (SELECT a, a FROM edges " +
      "UNION SELECT e.a, r.l FROM edges e JOIN reach r ON r.v = e.b), " +
      "lbl AS (SELECT v AS doc_id, min(l) AS cluster FROM reach GROUP BY v)"

  private val duckClusters: String =
    s"WITH RECURSIVE $duckClusterCtes " +
      "SELECT doc_id, cluster, CAST(count(*) OVER (PARTITION BY cluster) " +
      "AS BIGINT) AS n_in_cluster FROM lbl ORDER BY cluster, doc_id"

  /** The novelty CTE chain up to `nov` (doc_id → df=1 shingle share) —
    * shared by curation_novelty and curation_pareto_front's twin. */
  private val duckNoveltyCtes: String =
    s"sets AS ($duckShingleSets), " +
      "ex AS (SELECT doc_id, unnest(shl) AS sh FROM sets), " +
      "dfq AS (SELECT sh, count(*) AS df FROM ex GROUP BY 1), " +
      "nov AS (SELECT doc_id, count(*) AS n_shingles, " +
      "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique, " +
      "floor(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) / " +
      "CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS novelty " +
      "FROM ex JOIN dfq USING (sh) GROUP BY 1)"

  /** Shared retrieval CTE chain: term frequencies → query/corpus split
    * (Sizing.dqparSql replays the adaptive batch rule) → corpus stats →
    * integer idf — token-for-token the arithmetic bm25Scores /
    * idfCosineScores run (see their Scaladoc for the float discipline). */
  private val duckRetrieval: String =
    s"${graft.Sizing.dqparSql}, " +
      "tfx AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf " +
      "FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, " +
      "unnest(toks) AS term FROM (SELECT doc_id, " +
      "string_split(lower(trim(text)), ' ') AS toks FROM documents)) " +
      "GROUP BY doc_id, dl, term), " +
      "corpus AS (SELECT * FROM tfx WHERE doc_id >= (SELECT dq FROM dqpar)), " +
      "qt AS (SELECT DISTINCT doc_id AS qid, term FROM tfx " +
      "WHERE doc_id < (SELECT dq FROM dqpar)), " +
      "stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM " +
      "(SELECT doc_id, min(dl) AS dl FROM corpus GROUP BY doc_id)), " +
      "wt AS (SELECT term, CAST(floor(round(ln(1.0 + (n_docs - df + 0.5) / " +
      "(df + 0.5)), 6) * 1000000 + 0.5) AS BIGINT) AS idf6 FROM " +
      "(SELECT term, count(*) AS df FROM corpus GROUP BY term), stats)"

  /** `bm` CTE: the exact BM25 fixed-point score sum per (qid, did). */
  private val duckBm25: String =
    s"bm AS (SELECT qid, c.doc_id AS did, " +
      s"sum(CAST(floor(idf6 * (tf * $bm25K1p1) / (tf + $bm25K1 * " +
      s"(1.0 - $bm25B + $bm25B * dl / (CAST(sum_dl AS DOUBLE) / n_docs))) " +
      "+ 0.5) AS BIGINT)) AS s6 " +
      "FROM corpus c JOIN qt USING (term) JOIN wt USING (term), stats " +
      "GROUP BY qid, did)"

  /** PPJoin exact-pair chain with collision-free CTE names, ending in
    * `truth(id1, id2, jaccard)` — composed next to duckBandCand (which
    * owns `sets`/`sigsm`/`bsigs`/`cand`) by the recall twin. Same
    * arithmetic as the dedup_prefix_filter twin. */
  private val duckPPTruth: String =
    "pszs AS (SELECT doc_id, shl, len(shl) AS sz FROM sets), " +
      "pex AS (SELECT doc_id, sz, unnest(shl) AS sh FROM pszs), " +
      "pdfreq AS (SELECT sh, count(*) AS df FROM pex GROUP BY sh), " +
      "ppref AS (SELECT doc_id, sz, sh, rk FROM (SELECT e.doc_id, e.sz, e.sh, " +
      "row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.sh) AS rk " +
      "FROM pex e JOIN pdfreq f USING (sh)) WHERE rk <= sz - (sz + 1) // 2 + 1), " +
      "tc AS (SELECT a.doc_id AS id1, b.doc_id AS id2 " +
      "FROM ppref a JOIN ppref b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
      "AND 2 * least(a.sz, b.sz) >= greatest(a.sz, b.sz) " +
      "AND least(a.sz - a.rk, b.sz - b.rk) + 1 >= (a.sz + b.sz + 2) // 3 " +
      "GROUP BY 1, 2), " +
      "truth AS (SELECT id1, id2, jaccard FROM (SELECT id1, id2, " +
      "round(len(list_intersect(s1.shl, s2.shl)) / CAST(len(s1.shl) + len(s2.shl) " +
      "- len(list_intersect(s1.shl, s2.shl)) AS DOUBLE), 6) AS jaccard " +
      "FROM tc JOIN pszs s1 ON s1.doc_id = id1 JOIN pszs s2 ON s2.doc_id = id2) " +
      "WHERE jaccard >= 0.5)"

  val oracleSql: Map[String, String] = Map(
    "dedup_minhash_recall" ->
      (s"WITH $duckBandCand, $duckPPTruth " +
        "SELECT bucket, n_true, n_caught, " +
        "floor(n_caught * 1000000.0 / n_true + 0.5) / 1000000 AS recall FROM " +
        "(SELECT floor(jaccard * 10) / 10 AS bucket, " +
        "CAST(count(*) AS BIGINT) AS n_true, " +
        "CAST(sum(CASE WHEN c.id1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_caught " +
        "FROM truth t LEFT JOIN cand c ON t.id1 = c.id1 AND t.id2 = c.id2 " +
        "GROUP BY 1) ORDER BY bucket"),

    "dedup_edit_distance" ->
      (s"WITH $duckBandCand " +
        "SELECT id1, id2, dist FROM (SELECT id1, id2, " +
        "CAST(levenshtein(d1.text, d2.text) AS BIGINT) AS dist, " +
        "CAST(greatest(length(d1.text), length(d2.text)) AS BIGINT) AS mx " +
        "FROM cand JOIN documents d1 ON d1.doc_id = id1 " +
        "JOIN documents d2 ON d2.doc_id = id2) " +
        "WHERE dist * 10 <= mx ORDER BY id1, id2"),

    "similarity_bm25_topk" ->
      (s"WITH $duckRetrieval, $duckBm25 " +
        "SELECT qid, did, rk, s6 / 1000000.0 AS bm25 FROM " +
        "(SELECT qid, did, s6, row_number() OVER (PARTITION BY qid " +
        "ORDER BY s6 DESC, did) AS rk FROM bm) " +
        "WHERE rk <= 10 ORDER BY qid, rk"),

    "similarity_rrf_fusion" ->
      (s"WITH $duckRetrieval, $duckBm25, " +
        "cvec AS (SELECT c.doc_id AS did, term, idf6 FROM corpus c " +
        "JOIN wt USING (term)), " +
        "qvec AS (SELECT qid, term, idf6 FROM qt JOIN wt USING (term)), " +
        "cn AS (SELECT did, sum(idf6 * idf6) AS nb FROM cvec GROUP BY did), " +
        "qn AS (SELECT qid, sum(idf6 * idf6) AS na FROM qvec GROUP BY qid), " +
        "cosd AS (SELECT qid, did, CAST(floor(dot / (sqrt(CAST(na AS DOUBLE)) " +
        "* sqrt(CAST(nb AS DOUBLE))) * 1000000 + 0.5) AS BIGINT) AS cos6 " +
        "FROM (SELECT q.qid, c.did, sum(c.idf6 * q.idf6) AS dot FROM cvec c " +
        "JOIN qvec q USING (term) GROUP BY q.qid, c.did) " +
        "JOIN qn USING (qid) JOIN cn USING (did)), " +
        s"ta AS (SELECT qid, did, rk AS ra FROM (SELECT qid, did, " +
        "row_number() OVER (PARTITION BY qid ORDER BY s6 DESC, did) AS rk " +
        s"FROM bm) WHERE rk <= $rrfDepth), " +
        s"tb AS (SELECT qid, did, rk AS rb FROM (SELECT qid, did, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos6 DESC, did) AS rk " +
        s"FROM cosd) WHERE rk <= $rrfDepth), " +
        "fused AS (SELECT coalesce(ta.qid, tb.qid) AS qid, " +
        "coalesce(ta.did, tb.did) AS did, ra, rb, " +
        s"coalesce(CAST(floor(1000000.0 / ($rrfK + ra)) AS BIGINT), 0) + " +
        s"coalesce(CAST(floor(1000000.0 / ($rrfK + rb)) AS BIGINT), 0) AS rrf6 " +
        "FROM ta FULL OUTER JOIN tb ON ta.qid = tb.qid AND ta.did = tb.did) " +
        "SELECT qid, did, rk, ra, rb, rrf6 / 1000000.0 AS rrf FROM " +
        "(SELECT qid, did, ra, rb, rrf6, row_number() OVER (PARTITION BY qid " +
        "ORDER BY rrf6 DESC, did) AS rk FROM fused) " +
        "WHERE rk <= 10 ORDER BY qid, rk"),

    "dedup_minhash" ->
      (s"WITH $duckBandCand " +
        "SELECT id1, id2, jaccard FROM (SELECT id1, id2, " +
        "round(len(list_intersect(s1.shl, s2.shl)) / CAST(len(s1.shl) + len(s2.shl) " +
        "- len(list_intersect(s1.shl, s2.shl)) AS DOUBLE), 6) AS jaccard " +
        "FROM cand JOIN sigsm s1 ON s1.doc_id = id1 JOIN sigsm s2 ON s2.doc_id = id2 " +
        "WHERE len(list_filter(range(16), p -> s1.mh[p+1] = s2.mh[p+1])) >= 5) " +
        "WHERE jaccard >= 0.5 ORDER BY id1, id2"),

    // Transitive closure by recursive CTE: `reach` accumulates every label
    // reachable from each node over the verified-pair edges; min(reach) is
    // exactly the min-label-propagation fixpoint the Spark side iterates to.
    "dedup_clusters" -> duckClusters,

    // The recursive-CTE row converges to the same component-minimum
    // labels (Spark's UNION ALL + simple-path guard vs DuckDB's
    // UNION-distinct closure: different termination devices, identical
    // fixpoint on the undirected edge set).
    "dedup_clusters_sql" -> duckClusters,

    // Star contraction converges to the SAME component-minimum labels, so
    // the oracle is the same transitive-closure replay — the row differs
    // only in WHICH distributed algorithm Spark ran to reach it.
    "dedup_clusters_star" -> duckClusters,

    "dedup_containment" ->
      (s"WITH $duckBandCand " +
        "SELECT id1, id2, containment FROM (SELECT id1, id2, " +
        "round(len(list_intersect(s1.shl, s2.shl)) / " +
        "CAST(least(len(s1.shl), len(s2.shl)) AS DOUBLE), 6) AS containment " +
        "FROM cand JOIN sigsm s1 ON s1.doc_id = id1 JOIN sigsm s2 ON s2.doc_id = id2) " +
        "WHERE containment >= 0.7 ORDER BY id1, id2"),

    "dedup_simhash" ->
      (s"WITH $duckSims, " +
        "blocks AS (SELECT doc_id, sim, bd, (sim >> (bd * 16)) & 65535 AS blk " +
        "FROM sims, range(4) t(bd)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, " +
        "CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming FROM blocks a " +
        "JOIN blocks b ON a.bd = b.bd AND a.blk = b.blk AND a.doc_id < b.doc_id) " +
        "SELECT id1, id2, hamming FROM cand WHERE hamming <= 3 ORDER BY id1, id2"),

    "dedup_simhash_perm" -> duckSimPerm(8, 5),

    // Replays the ngram_hashes(tokh, 5) rolling combine (same fold as
    // Curation's contamination grams), then the document-frequency agg.
    "dedup_repeated_ngrams" ->
      ("WITH toksh AS (SELECT doc_id, list_transform(" +
        "string_split(lower(trim(text)), ' '), t -> " + duckPoly("t") +
        ") AS tokh FROM documents), " +
        "grams AS (SELECT DISTINCT doc_id, unnest(list_transform(range(len(tokh) - 4), " +
        "i -> ((((((((tokh[i+1] * 8191 + tokh[i+2]) % 1000000007) * 8191) " +
        "+ tokh[i+3]) % 1000000007) * 8191 + tokh[i+4]) % 1000000007) " +
        "* 8191 + tokh[i+5]) % 1000000007)) AS gram " +
        "FROM toksh WHERE len(tokh) >= 5) " +
        "SELECT gram, count(*) AS n_docs, min(doc_id) AS first_doc " +
        "FROM grams GROUP BY gram HAVING count(*) >= 2 ORDER BY gram"),

    // Replays the POSITIONAL g-gram fold (list_reduce over each window
    // slice — the rolling native form is arithmetically identical mod p),
    // the ≥2-distinct-docs filter, the gaps-and-islands interval merge,
    // and the kept-segment complement + rewrite.
    // Replays the line split (chr(10) — the control-char-free idiom),
    // the corpus-wide occurrence count with the min-(doc_id, line_no)
    // keeper (lexicographic struct min), the keep predicate, and the
    // in-order rebuild (FILTER keeps DuckDB's list() null-free like
    // Spark's collect_list; coalesce('') matches array_join on empty).
    "dedup_lines_remove" ->
      ("WITH lt AS (SELECT doc_id, string_split(text, chr(10)) AS lines " +
        "FROM documents), " +
        "ln AS (SELECT doc_id, unnest(list_transform(range(len(lines)), " +
        "i -> {'line_no': i, 'line': lines[i + 1]})) AS l FROM lt), " +
        "lf AS (SELECT doc_id, CAST(l.line_no AS BIGINT) AS line_no, " +
        "l.line AS line, lower(trim(l.line)) AS norm FROM ln), " +
        "st AS (SELECT norm, count(*) AS df, " +
        "min({'d': doc_id, 'l': line_no}) AS k FROM lf WHERE norm <> '' " +
        "GROUP BY norm), " +
        "kf AS (SELECT f.doc_id, f.line_no, f.line, " +
        "CASE WHEN s.df IS NULL OR s.df = 1 " +
        "OR (f.doc_id = s.k.d AND f.line_no = s.k.l) THEN 1 ELSE 0 END AS kept " +
        "FROM lf f LEFT JOIN st s ON f.norm = s.norm) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines, " +
        "CAST(sum(1 - kept) AS BIGINT) AS n_removed, " +
        "coalesce(list_aggregate(list_transform(list_sort(" +
        "list({'n': line_no, 't': line}) FILTER (WHERE kept = 1)), " +
        "x -> x.t), 'string_agg', chr(10)), '') AS kept_text " +
        "FROM kf GROUP BY doc_id ORDER BY doc_id"),

    "dedup_substring_remove" -> {
      val g = substrG
      "WITH toksh AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks, " +
        "list_transform(string_split(lower(trim(text)), ' '), t -> " + duckPoly("t") +
        ") AS tokh FROM documents), " +
        s"wins AS (SELECT doc_id, unnest(list_transform(range(len(tokh) - ${g - 1}), " +
        s"i -> {'pos': i, 'gram': list_reduce(tokh[i + 1 : i + $g], " +
        "(h, c) -> (h * 8191 + c) % 1000000007), " +
        // the second-modulus guard replayed: reduce-then-fold under
        // (131, 998244353) — NgramHashesPosB's exact arithmetic
        s"'gramb': list_reduce(list_transform(tokh[i + 1 : i + $g], " +
        "x -> x % 998244353), (h, c) -> (h * 131 + c) % 998244353)})) AS w " +
        s"FROM toksh WHERE len(tokh) >= $g), " +
        "winf AS (SELECT doc_id, CAST(w.pos AS BIGINT) AS pos, " +
        "w.gram AS gram, w.gramb AS gram_b FROM wins), " +
        "dup AS (SELECT gram, gram_b FROM " +
        "(SELECT DISTINCT doc_id, gram, gram_b FROM winf) " +
        "GROUP BY gram, gram_b HAVING count(*) >= 2), " +
        "hits AS (SELECT doc_id, pos FROM winf JOIN dup USING (gram, gram_b)), " +
        "isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id " +
        "ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM " +
        "(SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id " +
        s"ORDER BY pos) > $g THEN 1 ELSE 0 END AS brk FROM hits)), " +
        "rm AS (SELECT doc_id, island, min(pos) AS rm_start, " +
        s"max(pos) + ${g - 1} AS rm_end FROM isl GROUP BY doc_id, island), " +
        "mids AS (SELECT doc_id, coalesce(lag(rm_end) OVER (PARTITION BY doc_id " +
        "ORDER BY rm_start) + 1, 0) AS ks, rm_start - 1 AS ke FROM rm), " +
        "tails AS (SELECT r.doc_id, max(r.rm_end) + 1 AS ks, " +
        "max(len(t.tokh)) - 1 AS ke FROM rm r JOIN toksh t USING (doc_id) " +
        "GROUP BY r.doc_id), " +
        "untouched AS (SELECT doc_id, 0 AS ks, len(tokh) - 1 AS ke FROM toksh " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM rm)), " +
        "segs AS (SELECT * FROM mids WHERE ks <= ke " +
        "UNION ALL SELECT * FROM tails WHERE ks <= ke " +
        "UNION ALL SELECT * FROM untouched) " +
        "SELECT s.doc_id, CAST(row_number() OVER (PARTITION BY s.doc_id " +
        "ORDER BY s.ks) AS BIGINT) AS seg, CAST(s.ks AS BIGINT) AS tok_start, " +
        "CAST(s.ke AS BIGINT) AS tok_end, " +
        "list_aggregate(t.toks[s.ks + 1 : s.ke + 1], 'string_agg', ' ') AS kept_text " +
        "FROM segs s JOIN toksh t USING (doc_id) ORDER BY doc_id, seg"
    },

    // Replays the prefix-filter mechanism itself (global rarest-first
    // order, integer prefix length, size-ratio gate) so the hash check
    // compares full candidate generation, not just the verified output.
    "dedup_prefix_filter" ->
      (s"WITH sets AS ($duckShingleSets), " +
        "szs AS (SELECT doc_id, shl, len(shl) AS sz FROM sets), " +
        "ex AS (SELECT doc_id, sz, unnest(shl) AS sh FROM szs), " +
        "dfreq AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh), " +
        // the audit-envelope gate, replayed (the Spark side raise_errors
        // past 20M docs — see ppjoinEnvelopeDocs; under it this CASE is
        // a per-row true)
        "pref AS (SELECT doc_id, sz, sh, rk FROM (SELECT e.doc_id, e.sz, e.sh, " +
        "row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.sh) AS rk " +
        "FROM ex e JOIN dfreq f USING (sh)) WHERE rk <= sz - (sz + 1) // 2 + 1 " +
        "AND CASE WHEN (SELECT count(*) FROM szs) > 20000000 THEN " +
        "error('dedup_prefix_filter: exact AllPairs audit envelope " +
        "exceeded; use dedup_minhash') ELSE true END), " +
        "cand AS (SELECT a.doc_id AS id1, b.doc_id AS id2 " +
        "FROM pref a JOIN pref b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        "AND 2 * least(a.sz, b.sz) >= greatest(a.sz, b.sz) " +
        "AND least(a.sz - a.rk, b.sz - b.rk) + 1 >= (a.sz + b.sz + 2) // 3 " +
        "GROUP BY 1, 2) " +
        "SELECT id1, id2, jaccard FROM (SELECT id1, id2, " +
        "round(len(list_intersect(s1.shl, s2.shl)) / CAST(len(s1.shl) + len(s2.shl) " +
        "- len(list_intersect(s1.shl, s2.shl)) AS DOUBLE), 6) AS jaccard " +
        "FROM cand JOIN szs s1 ON s1.doc_id = id1 JOIN szs s2 ON s2.doc_id = id2) " +
        "WHERE jaccard >= 0.5 ORDER BY id1, id2"),

    "similarity_sparse_topk" ->
      (s"WITH sets AS ($duckShingleSets), " +
        "ex AS (SELECT doc_id, unnest(shl) AS sh FROM sets), " +
        "n AS (SELECT count(*) AS n_docs FROM sets), " +
        "wt AS (SELECT sh, df, CAST(floor(round(ln((n_docs + 1.0) / (df + 1.0)), 6) " +
        "* 1000000 + 0.5) AS BIGINT) AS wmic " +
        "FROM (SELECT sh, count(*) AS df FROM ex GROUP BY sh), n), " +
        "vec AS (SELECT doc_id, e.sh, df, wmic FROM ex e JOIN wt USING (sh)), " +
        "norms AS (SELECT doc_id, sum(wmic * wmic) AS n2 FROM vec GROUP BY doc_id), " +
        "post AS (SELECT doc_id, sh, wmic FROM vec WHERE df <= 50), " +
        "dots AS (SELECT a.doc_id AS id1, b.doc_id AS id2, " +
        "sum(a.wmic * b.wmic) AS dot FROM post a " +
        "JOIN post b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2) " +
        "SELECT id1, id2, floor(dot / (sqrt(CAST(na.n2 AS DOUBLE)) * " +
        "sqrt(CAST(nb.n2 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS cosine " +
        "FROM dots JOIN norms na ON na.doc_id = id1 JOIN norms nb ON nb.doc_id = id2 " +
        "ORDER BY cosine DESC, id1, id2 LIMIT 15"),

    "dedup_ngram_jaccard" ->
      (s"WITH $duckBandCand, " +
        "grams AS (SELECT doc_id, g, len(g) AS sz FROM (" +
        "SELECT doc_id, list_distinct(list_transform(" +
        "range(len(toks) - 1), i -> array_to_string(toks[i+1:i+2], ' '))) AS g " +
        "FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks " +
        "FROM documents) WHERE len(toks) >= 2)) " +
        "SELECT id1, id2, jaccard FROM (SELECT id1, id2, " +
        "round(len(list_intersect(g1.g, g2.g)) / CAST(len(g1.g) + len(g2.g) " +
        "- len(list_intersect(g1.g, g2.g)) AS DOUBLE), 6) AS jaccard " +
        "FROM cand JOIN grams g1 ON g1.doc_id = id1 JOIN grams g2 ON g2.doc_id = id2 " +
        "WHERE CAST(least(g1.sz, g2.sz) AS DOUBLE) / greatest(g1.sz, g2.sz) >= 0.5) " +
        "WHERE jaccard >= 0.5 ORDER BY id1, id2"),

    // Replays the shared shingle sets, the df agg, and the ratio.
    "curation_novelty" ->
      (s"WITH $duckNoveltyCtes " +
        "SELECT doc_id, n_shingles, n_unique, novelty FROM nov " +
        "ORDER BY doc_id"),

    // The skyline replayed as literal pairwise dominance — NOT EXISTS a
    // doc at-least-as-good on both axes and strictly better on one. The
    // Spark side's bucketing/suffix-max machinery is pure execution
    // strategy; the semantic contract is exactly this predicate.
    "curation_pareto_front" ->
      (s"WITH quality AS (${TextOps.duckQualityBody}), $duckNoveltyCtes, " +
        "pts AS (SELECT q.doc_id, q.quality AS q, v.novelty AS n " +
        "FROM quality q JOIN nov v USING (doc_id)) " +
        "SELECT doc_id, q AS quality, n AS novelty FROM pts p " +
        "WHERE NOT EXISTS (SELECT 1 FROM pts o WHERE " +
        "(o.q > p.q AND o.n >= p.n) OR (o.q = p.q AND o.n > p.n)) " +
        "ORDER BY doc_id"),

    // Incremental dedup replayed: the cutoff scalar, the normalized-hash
    // earlier-partner anti-pattern (LEFT JOIN + min), and the SAME
    // band-candidate + verify chain as dedup_minhash with the pair set
    // restricted to id2 > cutoff — which equals the Spark side's
    // bands(NEW) ⋈ bands(ALL) because cand's id1 < id2 already orients
    // every pair toward its newer member.
    "dedup_incremental" ->
      (s"WITH $duckBandCand, " +
        "cutt AS (SELECT max(doc_id) * 7 // 10 AS cut FROM documents), " +
        "alld AS (SELECT doc_id, sha256(lower(trim(text))) AS h FROM documents), " +
        "newd AS (SELECT doc_id, h FROM alld, cutt WHERE doc_id > cut), " +
        "ex AS (SELECT n.doc_id, min(o.doc_id) AS exact_partner FROM newd n " +
        "LEFT JOIN alld o ON o.h = n.h AND o.doc_id < n.doc_id GROUP BY 1), " +
        "vp AS (SELECT id2 AS doc_id, min(id1) AS near_partner FROM (" +
        "SELECT id1, id2 FROM (SELECT id1, id2, " +
        "round(len(list_intersect(s1.shl, s2.shl)) / CAST(len(s1.shl) + len(s2.shl) " +
        "- len(list_intersect(s1.shl, s2.shl)) AS DOUBLE), 6) AS jaccard " +
        "FROM cand JOIN sigsm s1 ON s1.doc_id = id1 JOIN sigsm s2 ON s2.doc_id = id2 " +
        "WHERE len(list_filter(range(16), p -> s1.mh[p+1] = s2.mh[p+1])) >= 5) " +
        "WHERE jaccard >= 0.5), cutt WHERE id2 > cut GROUP BY 1) " +
        "SELECT e.doc_id, CASE WHEN exact_partner IS NOT NULL THEN 'drop_exact' " +
        "WHEN near_partner IS NOT NULL THEN 'drop_near' ELSE 'keep' END AS action, " +
        "coalesce(exact_partner, near_partner) AS partner " +
        "FROM ex e LEFT JOIN vp v ON e.doc_id = v.doc_id ORDER BY e.doc_id")
  )
}
