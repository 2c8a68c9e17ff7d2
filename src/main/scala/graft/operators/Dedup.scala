package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines, Spark-first.
  *
  * Exact dedup is a hash groupBy (one shuffle on the content hash — the
  * only partitioning that can see all copies of a document together).
  * Near-dup goes MinHash -> LSH banding -> band-bucket join, which turns the
  * O(n^2) all-pairs problem into a per-bucket join: at 100 TB the band join
  * shuffles only (doc_id, band_key) pairs — tens of bytes per document —
  * and AQE's skew-join handles hot buckets. SimHash gives a 1-word sketch
  * for Hamming-distance near-dup. All hashes are engine-portable
  * (md5-derived, see [[TextAnalysis.portableHash32]]) so every stage is
  * DuckDB-oracle-checkable.
  */
object Dedup {

  /** Prime modulus < 2^31 for the minhash permutation family
    * `h_i(x) = (a_i * x + b_i) mod P` (Broder's min-wise hashing; a_i odd
    * so the map is a bijection mod 2^32 inputs spread over [0, P)).
    */
  val MinhashPrime: Long = 2038074743L
  def minhashA(i: Int): Long = 2L * i + 1L
  def minhashB(i: Int): Long = 101L * i + 17L

  /** Exact dedup: group by full-content hash, keep the smallest id.
    * `sha2(..., 256)` collisions are cryptographically negligible, so the
    * 32-byte hash stands in for the full text in the shuffle — the content
    * itself never moves.
    */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol).cast("binary"), 256).as("text_sha"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** [[exactGroups]] over a PRECOMPUTED content key: when the pipeline
    * already fingerprinted the text (e.g. before materializing an
    * intermediate without the bodies — the q100 shape), grouping on the
    * existing key avoids carrying or re-hashing the content. Same
    * output contract with the key echoed as `text_sha`.
    */
  def exactGroupsByKey(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol).as("text_sha"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** MinHash signatures over the distinct word set of each document:
    * one explode + one groupBy (single shuffle on doc id); the k minimums
    * are computed as k parallel `min` aggregates with map-side partial
    * aggregation, so shuffled data is k longs per (doc, distinct-word)
    * partial — not the word stream.
    */
  /** @param carry constant-per-document columns to keep on the signature
    *               rows (e.g. `source` for the q106 overlap matrix),
    *               riding the groupBy keys — constant per doc, so they
    *               never split a group or add a shuffle; the cost is
    *               their bytes on the word-stream partials, which
    *               map-side combine collapses early.
    */
  def minhashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      carry: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val words = df.select(
      col(idCol) +: carry.map(col) :+
        explode(array_distinct(TextAnalysis.wsTokens(col(textCol)))).as("w"): _*)
    val hashed = words.select(
      col(idCol) +: carry.map(col) :+ TextAnalysis.portableHash32(col("w")).as("h"): _*)
    val aggs = (0 until numHashes).map { i =>
      min((col("h") * lit(minhashA(i)) + lit(minhashB(i))) % lit(MinhashPrime)).as(s"mh$i")
    }
    hashed.groupBy(col(idCol) +: carry.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding over a minhash signature: each document emits `bands`
    * (band_idx, md5-of-band-rows) keys; documents sharing any band key are
    * near-dup candidates. Returns (doc_a, doc_b, shared_bands) with
    * doc_a < doc_b.
    *
    * Pair formation is a bucket-key self-join and never materializes the
    * cross product. Strategy by scale (AQE decides): small corpora
    * broadcast one side (zero shuffle on the probe — measured faster here
    * than a bucket collect_list aggregation, which pays an extra
    * shuffle); at corpus scale both sides plan identical shuffles on
    * (band, key) and Spark's exchange reuse executes the signature
    * pipeline ONCE, feeding both join sides from the same shuffle files.
    * Degenerate buckets (a million near-identical boilerplate docs) are
    * quadratic in any formulation — banding width controls bucket size,
    * and AQE skew-join splits hot buckets across tasks.
    */
  /** @param carry per-document columns to ride the banding and come out
    *              per pair as `<col>_a` / `<col>_b` (e.g. a split label
    *              for a leakage audit). Computed ONCE per document on the
    *              signature side — attaching them after the join would
    *              either cost a join back on the pair stream or, worse,
    *              let Catalyst push the recomputation into the join
    *              condition where it runs per CANDIDATE pair in every
    *              hot bucket. Cost: the carried bytes ride each of the
    *              `bands` band rows per document through the shuffle.
    */
  def lshCandidatePairs(
      signatures: DataFrame,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 2,
      carry: Seq[String] = Nil): DataFrame = {
    val exploded = bandKeys(signatures, idCol, numHashes, bands, carry)
    val a = exploded.as("a")
    val b = exploded.as("b")
    // carried columns are constant per doc, so adding them to the group
    // keys never splits a (doc_a, doc_b) group
    val groupCols =
      col(s"a.$idCol").as("doc_a") +: col(s"b.$idCol").as("doc_b") +:
        carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b")))
    a.join(b,
        col("a.band") === col("b.band") &&
          col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(groupCols: _*)
      .agg(count(lit(1)).as("shared_bands"))
  }

  /** Hot-bucket STAR-COLLAPSE pair former — [[lshCandidatePairs]] with
    * the quadratic failure mode removed for the CLUSTERING consumer. A
    * band bucket of B members emits B(B-1)/2 candidate pairs; at corpus
    * scale a boilerplate/near-clique key puts millions of documents in
    * one bucket and the pair stage dies on that bucket alone (the q223
    * histogram is the pre-flight read of exactly this risk — sum(size^2)
    * is the join's output). AQE skew-join spreads a hot bucket across
    * tasks but cannot shrink its B^2 output; this operator can, because
    * the DOWNSTREAM consumer (connected components -> canonical dedup)
    * only needs connectivity, not the full clique:
    *
    *  - buckets with <= maxBucket members pair exactly as
    *    [[lshCandidatePairs]] does;
    *  - buckets over the cap emit a STAR instead — (hub, member) edges
    *    with hub = the bucket's min id — B-1 edges in place of
    *    B(B-1)/2. Within a bucket the star spans the same vertex set,
    *    so the connected components of the capped edge set EQUAL the
    *    components of the uncapped pair set exactly, for every graph
    *    (StarCapSpec pins it; q227's oracle floods the UNCAPPED graph
    *    and hash-matches the capped Spark side cross-engine).
    *
    * What is genuinely given up: per-pair evidence INSIDE hot buckets —
    * `shared_bands` counts surviving evidence rows (cold-band
    * co-occurrences plus hot-bucket hub adjacencies), so non-hub member
    * pairs of a hot bucket never appear as rows. Pairwise-weight
    * consumers (the q138 PageRank graph, the q106 overlap matrix) read
    * the uncapped former; the cluster/canonical path reads this one.
    *
    * Shape: the bucket profile is one map-side-combined aggregation on
    * (band, key); the over-cap set is tiny by construction (only keys
    * hot enough to matter exceed the cap), so both the cold-side screen
    * and the hub attach are broadcast joins — no new shuffle beyond
    * [[lshCandidatePairs]]'s own, and the band self-join now runs on a
    * stream whose largest bucket is bounded by maxBucket.
    */
  def lshCandidatePairsStarCapped(
      signatures: DataFrame,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 2,
      maxBucket: Int): DataFrame = {
    require(maxBucket >= 2,
      s"maxBucket ($maxBucket) must be >= 2 — a 2-member bucket already " +
        "emits its single pair; capping below that drops all pairs")
    val exploded = bandKeys(signatures, idCol, numHashes, bands)
    val hot = exploded.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("__sz"), min(col(idCol)).as("__hub"))
      .filter(col("__sz") > maxBucket)
    val cold = exploded.join(
      broadcast(hot.select(col("band"), col("key"))),
      Seq("band", "key"), "left_anti")
    val a = cold.as("a")
    val b = cold.as("b")
    val coldEdges = a.join(b,
        col("a.band") === col("b.band") &&
          col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
    // hub = min member, so hub < member and the star rows keep the
    // doc_a < doc_b orientation of the cold arm.
    val starEdges = exploded.join(
        broadcast(hot.select(col("band"), col("key"), col("__hub"))),
        Seq("band", "key"))
      .filter(col(idCol) =!= col("__hub"))
      .select(col("__hub").as("doc_a"), col(idCol).as("doc_b"))
    coldEdges.unionByName(starEdges)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_bands"))
  }

  /** The LSH band-key explode shared by the pair former and the
    * cross-corpus screens: each signature row emits `bands` rows of
    * (idCol, carry..., band, key), key the RAW signature slice as a
    * struct of longs (exact equality, no digest materialization — the
    * [[lshCandidatePairs]] rationale).
    */
  def bandKeys(
      signatures: DataFrame,
      idCol: String,
      numHashes: Int = 16,
      bands: Int = 2,
      carry: Seq[String] = Nil): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) evenly — " +
        "a remainder would silently drop signature rows and change recall")
    val rowsPerBand = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(
        lit(b).as("band"),
        struct(rows.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*).as("key"))
    }
    signatures
      .select(col(idCol) +: carry.map(col) :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(col(idCol) +: carry.map(col) :+
        col("bk.band").as("band") :+ col("bk.key").as("key"): _*)
  }

  /** Punctuation/case/whitespace-insensitive canonical dedup key: sha256
    * of `lower(text)` with every non-alphanumeric run collapsed to one
    * space. The "fuzzy-exact" tier between raw-hash dedup (q30 — misses
    * a re-punctuated copy entirely) and MinHash (q31 — probabilistic,
    * banded): reformatting, smart quotes, case drift, and spacing churn
    * — the most common mirror-site mutations — all land on one key,
    * while any WORD change still splits it. Pure codegen'd regex chain,
    * no UDF; the 32-byte key is the shuffle unit, bodies never move
    * (the q30 discipline).
    */
  def canonicalTextKey(text: Column): Column =
    sha2(trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " ")), 256)

  /** Canonical-key dedup groups: (canon_sha, keep_id, n_copies,
    * n_raw_distinct) — `n_raw_distinct` counts the distinct RAW content
    * hashes inside each canonical group, so `n_raw_distinct > 1` rows
    * are exactly the duplicates q30's raw-hash pass missed (the
    * canonicalization's measured catch, the q121-style evidence column
    * for this tier). Same scale shape as [[exactGroups]]: one digest
    * shuffle, map-side combined; the distinct-count is two-phase on the
    * same key.
    */
  def canonicalGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
        canonicalTextKey(col(textCol)).as("canon_sha"),
        col(idCol),
        sha2(col(textCol), 256).as("__raw_sha"))
      .groupBy(col("canon_sha"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("__raw_sha")).as("n_raw_distinct"))

  /** Default id gate for [[minhashJaccardAudit]] — the exact side is
    * all-pairs, so the gate is mandatory (the q35/q212 audit-face
    * discipline), never a tuning knob.
    */
  val JaccardAuditMaxId = 64L

  /** MinHash ESTIMATION-ERROR audit — the tracked approximation-quality
    * number for the minhash family (the q121/q212 discipline: every
    * approximation ships with a regression-guarded measurement). The
    * q31 signatures estimate word-set Jaccard as matching-permutation
    * fraction; this measures that estimate against the EXACT Jaccard,
    * per pair, over the id-gated slice: (doc_a, doc_b, n_match, inter,
    * uni) are exact integers (n_match of `numHashes` signature slots
    * agree; inter/uni from the same distinct-word universe the
    * signatures hash), `jac_est` = n_match/numHashes (exact — the
    * default divisor is a power of two), `jac_true` their one
    * quotient, `abs_err` one subtract. Pairs with zero overlap stay in
    * the universe — hash-collision OVER-estimates are exactly what the
    * audit exists to see; a drift in mean abs_err is the signal that
    * numHashes no longer fits the corpus' similarity profile.
    *
    * Docs with no word are absent (no signature — same universe as
    * q31). Scale shape: everything pair-wise is gated + broadcast; the
    * production path never runs this corpus-wide (signatures + banding
    * are the scale faces; this is their evidence).
    */
  def minhashJaccardAudit(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 16,
      maxId: Long = JaccardAuditMaxId): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1: $numHashes")
    require(maxId > 0, s"maxId must be positive: $maxId")
    val slice = df.filter(col(idCol) < maxId)
    val sig = minhashSignatures(slice, textCol, idCol, numHashes)
    val words = slice.select(col(idCol).as("__id"),
      explode(array_distinct(TextAnalysis.wsTokens(col(textCol)))).as("w"))
    val counts = words.groupBy(col("__id")).agg(count(lit(1)).as("n_w"))
    val inter = words.select(col("__id").as("ia"), col("w"))
      .join(words.select(col("__id").as("ib"), col("w")), Seq("w"))
      .filter(col("ia") < col("ib"))
      .groupBy(col("ia"), col("ib")).agg(count(lit(1)).as("inter"))
    val a = sig.select(col(idCol).as("ia") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"__a$i")): _*)
    val b = sig.select(col(idCol).as("ib") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"__b$i")): _*)
    val nMatch = (0 until numHashes)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = col("n_match").cast("double") / lit(numHashes)
    val tru = col("inter").cast("double") / col("uni").cast("double")
    a.join(broadcast(b), col("ia") < col("ib"))
      .select(col("ia"), col("ib"), nMatch.as("n_match"))
      .join(broadcast(counts.select(col("__id").as("ia"), col("n_w").as("__na"))), Seq("ia"))
      .join(broadcast(counts.select(col("__id").as("ib"), col("n_w").as("__nb"))), Seq("ib"))
      .join(inter, Seq("ia", "ib"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("uni", col("__na") + col("__nb") - col("inter"))
      .select(col("ia").as("doc_a"), col("ib").as("doc_b"),
        col("n_match"), col("inter"), col("uni"),
        est.as("jac_est"), tru.as("jac_true"),
        abs(est - tru).as("abs_err"))
  }

  /** Incremental corpus update: classify each INCOMING document against
    * an EXISTING corpus as `exact_dup` (content hash already present),
    * `near_dup` (shares a MinHash LSH band bucket with an existing
    * document — the q32 banding as a cross-corpus screen), or `new`.
    * This is the ingest-time gate of a continuously-crawled corpus: only
    * `new` survivors pay downstream processing, and the existing corpus
    * is never re-deduplicated.
    *
    * Scale shape: the exact screen shuffles 32-byte hashes (bodies never
    * move — the q30 discipline) into a left-semi join; the near screen
    * is two signature passes plus a (band, key)-keyed semi join of the
    * incoming band rows against the existing ones — the same
    * bucket-equi-join shape as the self-join pair former, with the
    * incoming side typically a small fraction of the corpus. Both
    * screens are semi joins: no pair stream materializes, each incoming
    * id appears once however many collisions it has. In steady state
    * the existing side's signatures/hashes would be a persisted index
    * (the q79 build-once discipline), not recomputed per batch.
    */
  def incrementalClassify(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 2): DataFrame = {
    val exHash = existing.select(sha2(col(textCol), 256).as("__h"))
    val exactIds = incoming
      .select(col(idCol), sha2(col(textCol), 256).as("__h"))
      .join(exHash, Seq("__h"), "left_semi")
      .select(col(idCol), lit(true).as("__exact"))
    val inBands = bandKeys(
      minhashSignatures(incoming, textCol, idCol, numHashes),
      idCol, numHashes, bands)
    val exBands = bandKeys(
      minhashSignatures(existing, textCol, idCol, numHashes),
      idCol, numHashes, bands)
    val nearIds = inBands
      .join(exBands.select("band", "key"), Seq("band", "key"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("__near", lit(true))
    incoming.select(col(idCol))
      .join(exactIds, Seq(idCol), "left")
      .join(nearIds, Seq(idCol), "left")
      .select(
        col(idCol),
        when(col("__exact"), lit("exact_dup"))
          .when(col("__near"), lit("near_dup"))
          .otherwise(lit("new")).as("status"))
  }

  /** 16-bit SimHash over the (multiset of) words: per bit j, sign of the
    * sum of ±1 votes from each word's hash bit j. One explode + one groupBy;
    * the 16 votes aggregate map-side. Near-dups differ in few bits.
    */
  def simhash16(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val words = df.select(col(idCol), explode(TextAnalysis.wsTokens(col(textCol))).as("w"))
    val hashed = words.select(col(idCol), TextAnalysis.portableHash32(col("w")).as("h"))
    val votes = (0 until 16).map { j =>
      sum(expr(s"shiftright(h, $j) % 2 * 2 - 1")).as(s"s$j")
    }
    val combined = (0 until 16)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    hashed
      .groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), expr(s"CAST($combined AS BIGINT)").as("simhash"))
  }

  /** SimHash near-dup PAIRS within Hamming radius `radius`, via the
    * pigeonhole block join: the 16-bit sketch splits into `radius + 1`
    * blocks, and any two sketches within Hamming `radius` must agree
    * EXACTLY on at least one block (at most `radius` bits differ, so they
    * cannot touch all blocks) — candidates join on (block_idx,
    * block_value), never all-pairs, then the exact
    * `bit_count(xor) <= radius` check verifies. The same
    * banding-to-equality trick MinHash-LSH uses, applied to Hamming
    * space; at corpus scale the join shuffles (block_key, id, sketch)
    * rows — a few dozen bytes per doc per block.
    *
    * Width note: 16-bit sketches saturate around 10^4 documents (random
    * Hamming-2 balls start colliding); the production width is
    * [[simhashWideNearDupPairs]] (60-bit votes over 60-bit word hashes)
    * through this same vote/block machinery — the block count and the
    * pigeonhole argument are width-independent.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      radius: Int = 2): DataFrame = {
    require(radius >= 0 && radius < 16, s"radius out of range: $radius")
    pigeonholePairs(simhash16(df, textCol, idCol), idCol, radius, sketchBits = 16)
  }

  /** Width-parameterized SimHash: same per-bit majority vote as
    * [[simhash16]] but over `width`-bit word hashes (15 md5 hex digits =
    * 60 bits — the widest slice that stays a non-negative BIGINT in every
    * engine). This is the production width: 16-bit sketches saturate
    * around 10^4 documents (random Hamming balls start colliding); at 60
    * bits the sketch distinguishes ~10^8 documents at radius 3. The vote
    * aggregation is still one explode + one map-side-combining groupBy —
    * width only changes the number of vote columns.
    */
  def simhashWide(
      df: DataFrame,
      textCol: String,
      idCol: String,
      width: Int = 60): DataFrame = {
    require(width >= 1 && width <= 60, s"width out of range: $width")
    val words = df.select(col(idCol), explode(TextAnalysis.wsTokens(col(textCol))).as("w"))
    // 15 hex digits of md5 = 60 bits, engine-portable (DuckDB:
    // CAST('0x' || substr(md5(w), 1, 15) AS BIGINT)).
    val hashed = words.select(
      col(idCol),
      expr("CAST(conv(substring(md5(CAST(w AS BINARY)), 1, 15), 16, 10) AS BIGINT)").as("h"))
    val votes = (0 until width).map { j =>
      sum(expr(s"shiftright(h, $j) % 2 * 2 - 1")).as(s"s$j")
    }
    val combined = (0 until width)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    hashed
      .groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), expr(s"CAST($combined AS BIGINT)").as("simhash"))
  }

  /** Near-dup pairs over the wide sketch — the corpus-scale configuration
    * of the same pigeonhole machinery (blocks of 60/(radius+1) bits are
    * selective enough that candidate buckets hold only true near-dups
    * plus ~|corpus|/2^15 random collisions).
    */
  def simhashWideNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      radius: Int = 3,
      width: Int = 60): DataFrame = {
    require(radius >= 0 && radius < width, s"radius out of range: $radius")
    pigeonholePairs(simhashWide(df, textCol, idCol, width), idCol, radius, width)
  }

  /** Shared pigeonhole block join over a (idCol, simhash) frame: split the
    * `sketchBits`-bit sketch into `radius + 1` blocks — two sketches
    * within Hamming `radius` cannot differ in every block, so exact
    * equality on (block_idx, block_value) finds every qualifying pair
    * without an all-pairs comparison; `bit_count(xor)` verifies exactly.
    */
  private def pigeonholePairs(
      sims: DataFrame,
      idCol: String,
      radius: Int,
      sketchBits: Int): DataFrame = {
    val blocks = radius + 1
    val bitsPer = sketchBits / blocks
    val blockStructs = (0 until blocks).map { b =>
      val lo = b * bitsPer
      val width = if (b == blocks - 1) sketchBits - lo else bitsPer
      val mask = (1L << width) - 1L
      struct(
        lit(b).as("bidx"),
        (shiftright(col("simhash"), lo).bitwiseAND(lit(mask))).as("bval"))
    }
    val exploded = sims.select(
      col(idCol), col("simhash"), explode(array(blockStructs: _*)).as("blk"))
      .select(col(idCol), col("simhash"),
        col("blk.bidx").as("bidx"), col("blk.bval").as("bval"))
    val a = exploded.as("a")
    // KNOWN double-compute (measured, round 13): the self-join's two
    // sides are the same sketch subtree, and neither broadcast (no
    // exchange for reuse to latch onto) nor the SMJ path (AQE
    // materializes both stages despite sameResult-identical exchanges —
    // verified by timing it cold and warm) dedupes it, so the vote
    // aggregation runs twice per mine. The remedy at scale is the
    // engine's build-once/probe-many pattern (materialize the sketch or
    // the pair table, as DupGraphPhases.build does for the MinHash
    // family with an eagerly-released localCheckpoint); it is NOT
    // applied inside this lazy operator because a checkpoint created
    // here could not be released at any principled point (the caller
    // owns execution), and leaked checkpoint blocks degrade unrelated
    // queries (the round-10 q13 regression).
    val b = exploded.as("b")
    a.join(b,
        col("a.bidx") === col("b.bidx") &&
          col("a.bval") === col("b.bval") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as("doc_a"),
        col(s"b.$idCol").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= radius)
      .distinct() // a pair can agree on several blocks
  }

  /** Character n-gram Jaccard similarity for all pairs within the given
    * subset: documents explode to distinct n-grams, pairs form via an
    * n-gram-keyed self-join (shuffle on the n-gram — never on the pair),
    * Jaccard = |A∩B| / (|A|+|B|-|A∩B|). Use on bounded candidate sets
    * (e.g. LSH output); the all-pairs form here is for verification scale.
    *
    * `maxDocFreq`: stop-gram cap. A gram appearing in f documents creates
    * f^2/2 join rows, so one boilerplate gram shared by a million docs is
    * a quadratic hot bucket. With the cap set, grams whose document
    * frequency exceeds it are removed from the representation BEFORE the
    * join (consistently — from both the intersection and the per-doc set
    * sizes, so the result is exact Jaccard over the filtered gram sets).
    * Ubiquitous grams carry no pair-discriminating signal — similarity
    * driven by them is boilerplate coincidence, not duplication — so the
    * cap is a quality filter as much as a scale guard: true near-dups
    * (shared distinctive content) keep their pairs while boilerplate-only
    * pairs drop out (property-tested). The hot-gram set is tiny by
    * construction (each needs > cap distinct docs) and broadcasts, so the
    * cap costs one map-side anti-join, not a second shuffle of the gram
    * stream.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxDocFreq: Option[Int] = None): DataFrame = {
    val rawGrams = df.select(
      col(idCol),
      explode(array_distinct(
        transform(
          sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1))),
          i => col(textCol).substr(i, lit(n))))).as("g"))
    val grams = maxDocFreq match {
      case Some(cap) =>
        // Grams are distinct per doc, so count(*) per gram IS document
        // frequency. Only above-cap grams survive the filter — a small
        // set that broadcasts under the anti-join.
        val hot = rawGrams.groupBy(col("g"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select(col("g"))
        rawGrams.join(broadcast(hot), Seq("g"), "left_anti")
      case None => rawGrams
    }
    val counts = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    // Per-doc set sizes attach AFTER the pair aggregation (r22, guide
    // §2.3/§3): riding them through the g-keyed self-join put a counts
    // subtree (one more full gram derivation each) under BOTH join
    // sides and widened every joined row; the aggregated pair frame is
    // doc-pair-sized and the counts frame doc-sized — two broadcast
    // hash joins there cost no gram re-derivation and no exchange.
    val pairs = grams
      .select(col(idCol).as("doc_a"), col("g"))
      .join(grams.select(col(idCol).as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(counts.select(col(idCol).as("doc_a"), col("n_grams").as("na"))),
        Seq("doc_a"))
      .join(broadcast(counts.select(col(idCol).as("doc_b"), col("n_grams").as("nb"))),
        Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Recall/precision of the MinHash-LSH operating point against EXACT
    * word-set Jaccard truth: one row of confusion counts — n_truth
    * (pairs with Jaccard >= num/den over distinct word sets),
    * n_candidates (pairs sharing any LSH band), n_hits (both), and the
    * two final divisions. The dedup-side answer to q121/q141's ANN
    * recall tracking: every approximate pair-mining operating point
    * (numHashes, bands) becomes a regression-guarded number instead of
    * a banding-probability anecdote.
    *
    * The exact-truth side is a word-keyed self-join — co-occurring
    * words form the only pairs, but a ubiquitous word still fans out
    * quadratically, so this is an AUDIT-scale operator by contract
    * (the [[Similarity]] brute-force-oracle precedent): callers bound
    * the corpus (the registry gates doc_id < 1000). The threshold
    * compare is all-integer (inter * den vs union * num) — the only
    * doubles are the two final ratios.
    */
  def lshRecallReport(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 2,
      num: Int = 1,
      den: Int = 2): DataFrame = {
    require(num >= 1 && den >= num,
      s"threshold num/den must satisfy 1 <= num <= den: $num/$den")
    val w = docs.select(
      col(idCol).as("doc_id"),
      explode(array_distinct(TextAnalysis.wsTokens(col(textCol)))).as("w"))
    val sizes = w.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = w.select(col("doc_id").as("doc_a"), col("w"))
      .join(w.select(col("doc_id").as("doc_b"), col("w")), Seq("w"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    val truth = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(col("inter") * den >=
        (col("na") + col("nb") - col("inter")) * num)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("__t"))
    val cand = lshCandidatePairs(
      minhashSignatures(docs, textCol, idCol, numHashes),
      idCol, numHashes, bands)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("__c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("__t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("__c"), lit(0L))).as("n_candidates"),
        sum(when(col("__t").isNotNull && col("__c").isNotNull, 1L)
          .otherwise(0L)).as("n_hits"))
      .select(
        col("n_truth"), col("n_candidates"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_truth").cast("double"))
          .as("recall"),
        (col("n_hits").cast("double") / col("n_candidates").cast("double"))
          .as("precision"))
  }
}
