package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Components, Dedup, Sampling, Similarity}

/** Dedup queries over `documents` / `embeddings` (north-star extension).
  * The minhash/simhash oracle SQL is generated from the same loops as the
  * Spark plans so the two sides cannot drift.
  */
object DedupQueries {

  private val NumHashes = DupGraphPhases.NumHashes

  /** q110/q111 rolling-window width in tokens (declared before `all`:
    * a val referenced during the registry Seq's construction).
    */
  private val SpanWindow = 8

  /** q179's document-frequency cap — 64 over the 1000-doc audit slice:
    * far above any discriminating token's df (a near-dup cluster's
    * shared vocabulary stays), well below corpus-wide boilerplate.
    * Declared before `all` (referenced during the Seq's construction).
    */
  private val ContainCap = 64

  /** q226/q227's hot-bucket cap — 64 over the 1000-doc gated slice: the
    * fixture's near-clique band bucket (171 members at sf0.01, the q223
    * histogram's fat tail) collapses to a star while every ordinary
    * bucket pairs exactly. Declared before `all` (referenced during the
    * Seq's construction).
    */
  private val StarCap = 64

  /** Bench faces for the star collapse at PRODUCTION geometry — the
    * FULL corpus, ungated (registry q226 gates at doc_id < 1000 for
    * oracle tractability; these exist only as bench lines). At sf0.1
    * the fixture's near-clique is ~40% of 5000 docs, so the uncapped
    * band join's hot bucket alone emits ~2M candidate pairs while the
    * star mine emits one edge per member. The signature mine is the
    * shared per-corpus cost (materialized ONCE as a table, its own
    * build line — the production shape: a pair former never
    * re-mines signatures, and timing the mine inside both faces
    * measured the mine 3x/2x instead of the stage under comparison),
    * so the star and uncapped lines time the PAIR-FORMING stage alone,
    * identical input, identical materialization.
    */
  private[graft] def fullSigTable(dir: String) = s"graft_fullsig_${Q.scratchTag(dir)}"

  def ensureFullSignatures(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    Products.ensure(spark, fullSigTable(dir))(buildFullSignatures(spark, dir))

  /** Force (re)build of the full-corpus signature table. */
  def buildFullSignatures(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    Products.store(Dedup.minhashSignatures(
      Tables.documents(spark, dir), "text", "doc_id", NumHashes), fullSigTable(dir))

  def starFullMine(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    ensureFullSignatures(spark, dir)
    Dedup.lshCandidatePairsStarCapped(
      spark.table(fullSigTable(dir)),
      "doc_id", NumHashes, bands = 2, maxBucket = StarCap)
  }

  def uncappedFullMine(spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    ensureFullSignatures(spark, dir)
    Dedup.lshCandidatePairs(
      spark.table(fullSigTable(dir)),
      "doc_id", NumHashes, bands = 2)
  }

  /** DuckDB CTE producing (doc_id, h) = portable 32-bit word hashes of the
    * distinct (`distinctWords`=true) or full multiset of words.
    */
  private def duckWordHashes(distinctWords: Boolean): String = {
    val inner = raw"string_split_regex(trim(text), '\s+')"
    val lst = if (distinctWords) s"list_distinct($inner)" else inner
    s"""SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h
       |FROM (SELECT doc_id, unnest($lst) AS w FROM documents)""".stripMargin
  }

  private def duckMinhashAggs: String =
    (0 until NumHashes).map { i =>
      s"MIN((h * ${Dedup.minhashA(i)} + ${Dedup.minhashB(i)}) % ${Dedup.MinhashPrime}) AS mh$i"
    }.mkString(",\n       ")

  private val duckSignatureCte =
    s"""WITH wh AS (
       |${duckWordHashes(distinctWords = true)}
       |), sig AS (
       |  SELECT doc_id,
       |       $duckMinhashAggs
       |  FROM wh GROUP BY doc_id
       |)""".stripMargin

  /** Full (doc_id, simhash) query text — q33's oracle, reused as a
    * subquery by q58's pair oracle.
    */
  private val duckSimhashSql: String = {
    val votes = (0 until 16)
      .map(j => s"CAST(SUM(((h >> $j) & 1) * 2 - 1) AS BIGINT) AS s$j")
      .mkString(",\n         ")
    val combined = (0 until 16)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH wh AS (
       |${duckWordHashes(distinctWords = false)}
       |), v AS (
       |  SELECT doc_id,
       |         $votes
       |  FROM wh GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($combined AS BIGINT) AS simhash FROM v""".stripMargin
  }

  /** Width-parameterized wide-simhash oracle text (q77/q78): 60-bit word
    * hashes = 15 md5 hex digits, mirrored literally from
    * [[graft.operators.Dedup.simhashWide]].
    */
  private def duckSimhashWideSql(width: Int): String = {
    val votes = (0 until width)
      .map(j => s"CAST(SUM(((h >> $j) & 1) * 2 - 1) AS BIGINT) AS s$j")
      .mkString(",\n         ")
    val combined = (0 until width)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString("\n           + ")
    s"""WITH wh AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |        FROM documents)
       |), v AS (
       |  SELECT doc_id,
       |         $votes
       |  FROM wh GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($combined AS BIGINT) AS simhash FROM v""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q(
      "q30_dedup_exact",
      "Exact dedup by content hash: group on sha256(text), keep min id. " +
        "The 32-byte hash is the shuffle key — document bodies never move.",
      Some("""
        |SELECT sha256(text) AS text_sha, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) => Dedup.exactGroups(Tables.documents(spark, dir), "text", "doc_id")
    ),
    Q(
      "q31_minhash_signatures",
      s"MinHash signatures ($NumHashes permutations of portable 32-bit word " +
        "hashes) over each document's distinct word set — the sketch stage " +
        "of MinHash-LSH near-dup.",
      Some(
        s"""$duckSignatureCte
           |SELECT * FROM sig""".stripMargin),
      (spark, dir) =>
        Dedup.minhashSignatures(Tables.documents(spark, dir), "text", "doc_id", NumHashes)
    ),
    Q(
      "q32_minhash_lsh_pairs",
      "LSH banding over the minhash signatures (2 bands x 8 rows): " +
        "candidate near-dup pairs = documents sharing any band key. " +
        "Turns O(n^2) all-pairs into a bucket-local self-join. Served " +
        "from the materialized pair graph (DupGraphPhases — built once, " +
        "probed by the whole dedup-graph family).",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands
           |FROM bands a JOIN bands b
           |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |GROUP BY 1, 2""".stripMargin),
      (spark, dir) =>
        DupGraphPhases.pairs(spark, dir).select("doc_a", "doc_b", "shared_bands")
    ),
    Q(
      "q33_simhash",
      "16-bit SimHash sketch: per-bit majority vote over word-hash bits — " +
        "near-dups land within small Hamming distance.",
      Some(duckSimhashSql),
      (spark, dir) => Dedup.simhash16(Tables.documents(spark, dir), "text", "doc_id")
    ),
    Q(
      "q58_simhash_pairs",
      "SimHash near-dup PAIRS within Hamming radius 2 via the pigeonhole " +
        "block join (3 blocks: <= 2 differing bits must leave one block " +
        "identical) — banding-to-equality in Hamming space; the exact " +
        "bit_count(xor) check verifies candidates. Oracle: all-pairs " +
        "Hamming filter (tractable at oracle scale; the block join is " +
        "what scales).",
      Some(s"""
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM (
        |$duckSimhashSql
        |) a JOIN (
        |$duckSimhashSql
        |) b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
        |""".stripMargin.trim),
      (spark, dir) =>
        Dedup.simhashNearDupPairs(
          Tables.documents(spark, dir), "text", "doc_id", radius = 2)
    ),
    Q(
      "q77_simhash_wide",
      "60-bit SimHash (15 md5 hex digits per word hash) — the production " +
        "width: 16-bit sketches saturate around 10^4 docs, 60-bit " +
        "distinguishes ~10^8 at radius 3. Same one-explode one-groupBy " +
        "vote plan as q33; width only adds vote columns.",
      Some(duckSimhashWideSql(60)),
      (spark, dir) =>
        Dedup.simhashWide(Tables.documents(spark, dir), "text", "doc_id")
    ),
    Q(
      "q78_simhash_wide_pairs",
      "Near-dup pairs over the 60-bit sketch, radius 3 via the pigeonhole " +
        "block join (4 blocks of 15 bits: candidate buckets hold true " +
        "near-dups plus ~|corpus|/2^15 random collisions — the " +
        "corpus-scale configuration). Oracle: all-pairs Hamming filter.",
      Some(s"""
        |WITH s AS (
        |${duckSimhashWideSql(60)}
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |""".stripMargin.trim),
      (spark, dir) =>
        Dedup.simhashWideNearDupPairs(
          Tables.documents(spark, dir), "text", "doc_id", radius = 3)
    ),
    Q(
      "q34_ngram_jaccard",
      "Character-trigram Jaccard near-dup pairs (bounded subset, ngram-" +
        "keyed self-join; intersection counted per pair, never a cross " +
        "product). Stop-gram cap df<=100: boilerplate grams shared by " +
        "most docs would each be a quadratic join bucket at scale and " +
        "carry no pair-discriminating signal — they are dropped from the " +
        "representation consistently on both engines.",
      Some("""
        |WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        |g0 AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(text) - 2, 1) + 1),
        |    i -> substr(text, i, 3)))) AS g
        |  FROM d
        |),
        |g AS (
        |  SELECT * FROM g0
        |  WHERE g NOT IN (SELECT g FROM g0 GROUP BY g HAVING COUNT(*) > 100)
        |),
        |c AS (SELECT doc_id, COUNT(*) AS n_g FROM g GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b,
        |       CAST(inter AS DOUBLE) / (ca.n_g + cb.n_g - inter) AS jaccard
        |FROM inter
        |JOIN c ca ON ca.doc_id = doc_a
        |JOIN c cb ON cb.doc_id = doc_b
        |WHERE CAST(inter AS DOUBLE) / (ca.n_g + cb.n_g - inter) >= 0.5
        |""".stripMargin.trim),
      (spark, dir) =>
        Dedup.ngramJaccardPairs(
          Tables.documents(spark, dir).filter(col("doc_id") < 200),
          "text", "doc_id", n = 3, threshold = 0.5, maxDocFreq = Some(100))
    ),
    Q(
      "q36_dedup_groups",
      "Near-dup GROUPS: MinHash-LSH candidate pairs -> distributed " +
        "connected components (min-label propagation, pointer jumping) -> " +
        "(doc_id, comp) cluster map, computed once per curation run and " +
        "served from the derived table (DupGraphPhases.buildDerived — " +
        "the second amortization layer over the built pair graph). " +
        "Oracle: recursive-CTE label flooding " +
        "over the same pair graph (tractable at oracle scale; the Spark " +
        "path is the one that scales).",
      Some(
        s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs
           |), labels AS (
           |  WITH RECURSIVE reach(id, lab) AS (
           |    SELECT DISTINCT src, src FROM edges
           |    UNION
           |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
           |  )
           |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
           |)
           |SELECT id AS doc_id, comp FROM labels""".stripMargin),
      (spark, dir) =>
        DupGraphPhases.components(spark, dir)
          .select(col("id").as("doc_id"), col("comp"))
    ),
    Q(
      "q37_dedup_canonical",
      "End-to-end near-dup dedup: LSH pairs -> components -> keep only each " +
        "cluster's canonical (min-id) document; singletons survive. The " +
        "full pipeline a training corpus actually runs.",
      Some(
        s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), prs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM prs
           |  UNION SELECT doc_b, doc_a FROM prs
           |), labels AS (
           |  WITH RECURSIVE reach(id, lab) AS (
           |    SELECT DISTINCT src, src FROM edges
           |    UNION
           |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
           |  )
           |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
           |)
           |SELECT doc_id, n_chars FROM documents
           |WHERE doc_id < 1000
           |  AND doc_id NOT IN (SELECT id FROM labels WHERE id != comp)""".stripMargin),
      (spark, dir) => {
        // keepCanonical semantics off the derived cluster map: drop every
        // non-min-label member ("loser"); singletons (no pairs -> not in
        // the map) survive the anti join untouched.
        val docs = Tables.documents(spark, dir).filter(col("doc_id") < 1000)
        val losers = DupGraphPhases.components(spark, dir)
          .filter(col("id") =!= col("comp")).select(col("id"))
        docs.join(losers, docs("doc_id") === losers("id"), "left_anti")
          .select("doc_id", "n_chars")
      }
    ),
    Q(
      "q35_embedding_dup_pairs",
      "Embedding-cosine near-dup pairs (exact double-fold cosine, bounded " +
        "id range; production path feeds LSH buckets instead of the cross " +
        "join).",
      Some("""
        |WITH e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings WHERE vec_id < 1000
        |)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.norm * b.norm) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.norm * b.norm) >= 0.4
        |""".stripMargin.trim),
      (spark, dir) =>
        Similarity.cosineDupPairs(
          Tables.embeddings(spark, dir), "vec_id", "embedding",
          threshold = 0.4, maxId = 1000L)
    ),
    Q(
      "q54_kmin_sketch",
      "Per-source KMV sketch via the custom typed Aggregator " +
        "(graft.functions.KMinSketch): 8 smallest distinct portable " +
        "content hashes — order/duplicate-insensitive, so deterministic " +
        "under any partitioning and exactly reproducible by the oracle " +
        "(rendered as a joined string like q46).",
      Some("""
        |SELECT source,
        |       array_to_string(list_slice(list_sort(list(DISTINCT h)), 1, 8), ',') AS kmin,
        |       COUNT(*) AS n_docs
        |FROM (
        |  SELECT source, CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS h
        |  FROM documents
        |)
        |GROUP BY source
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(col("source"),
            graft.operators.TextAnalysis.portableHash32(col("text")).as("h"))
          .groupBy("source")
          .agg(
            array_join(
              graft.functions.KMinSketch.kmin(col("h"), 8).cast("array<string>"),
              ",").as("kmin"),
            count(lit(1)).as("n_docs"))
    ),
    Q(
      "q102_split_leakage",
      "Train/test leakage audit: near-dup candidate pairs (the q32 LSH " +
        "banding) that STRADDLE a split boundary — the hygiene check a " +
        "pipeline runs after splitting, because exact-dedup-then-split " +
        "still leaks paraphrases across train/test. The split label is a " +
        "pure function of the doc id (the q38 hash bands), so probing " +
        "the materialized pair graph it computes directly on the final " +
        "pair stream — two md5s per SURVIVING pair, join-free (when the " +
        "graph was mined inline it had to ride the banding carry to " +
        "avoid per-candidate recomputation in hot buckets; " +
        "materialization makes that moot).",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2
           |)
           |SELECT doc_a, doc_b, shared_bands, split_a, split_b
           |FROM (
           |  SELECT *,
           |    CASE WHEN CAST('0x' || substr(md5('split1:' || CAST(doc_a AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
           |         WHEN CAST('0x' || substr(md5('split1:' || CAST(doc_a AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
           |         ELSE 'test' END AS split_a,
           |    CASE WHEN CAST('0x' || substr(md5('split1:' || CAST(doc_b AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
           |         WHEN CAST('0x' || substr(md5('split1:' || CAST(doc_b AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
           |         ELSE 'test' END AS split_b
           |  FROM pairs
           |)
           |WHERE split_a <> split_b""".stripMargin),
      (spark, dir) =>
        DupGraphPhases.pairs(spark, dir)
          .select(col("doc_a"), col("doc_b"), col("shared_bands"),
            Sampling.splitLabel(col("doc_a"), salt = "split1:").as("split_a"),
            Sampling.splitLabel(col("doc_b"), salt = "split1:").as("split_b"))
          .filter(col("split_a") =!= col("split_b")),
      bench = Seq(
        Phase.build("dupgraph_build")(DupGraphPhases.build),
        Phase.Self)
    ),
    Q(
      "q106_dup_overlap_matrix",
      "Cross-source duplicate-overlap matrix: the q32 LSH candidate " +
        "pairs rolled up to (source, source) counts — the mixture-design " +
        "diagnostic (which crawls/sources mirror each other, how much " +
        "of a new source is already in the corpus) that drives " +
        "per-source dedup and weighting decisions. `source` rode the " +
        "SIGNATURE groupBy keys and the banding carry at build time " +
        "(constant per doc: no group splits, no extra shuffle, no join " +
        "back on the pair stream), so the probe is ONE rollup of the " +
        "materialized pair stream onto a key space bounded by " +
        "sources^2.",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2
           |)
           |SELECT least(da.source, db.source) AS src_a,
           |       greatest(da.source, db.source) AS src_b,
           |       count(*) AS n_pairs,
           |       CAST(sum(shared_bands) AS BIGINT) AS n_shared_bands
           |FROM pairs p
           |JOIN documents da ON p.doc_a = da.doc_id
           |JOIN documents db ON p.doc_b = db.doc_id
           |GROUP BY 1, 2""".stripMargin),
      (spark, dir) =>
        DupGraphPhases.pairs(spark, dir)
          .groupBy(
            least(col("source_a"), col("source_b")).as("src_a"),
            greatest(col("source_a"), col("source_b")).as("src_b"))
          .agg(
            count(lit(1)).as("n_pairs"),
            sum("shared_bands").as("n_shared_bands"))
    ),
    Q(
      "q110_dup_spans",
      "Exact duplicated-span detection (Lee et al. substring dedup, " +
        "distributed form): stride-1 8-token windows fingerprinted with " +
        "full md5, a window is duplicated iff it occurs in >= 2 distinct " +
        "docs (min(doc) != max(doc) on the fingerprint — two longs of " +
        "partial state, hot fingerprints collapse map-side), hits " +
        "semi-joined back and merged per doc into maximal [start, end) " +
        "spans by gaps-and-islands. Unlike the q95 df-cap screen this " +
        "catches a long quote shared by just TWO documents, and spans " +
        "are maximal, not fixed passages.",
      Some(duckSpanSql(SpanWindow) +
        s"""
           |SELECT doc_id, span_start, span_end, n_windows FROM sp
           |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.SpanDedup.dupSpans(
          Tables.documents(spark, dir), "doc_id", "text", SpanWindow)
    ),
    Q(
      "q111_span_dedup",
      "Duplicated-span REMOVAL: every q110 span cut out of its document, " +
        "all docs reported (n_removed = 0 for untouched docs), survivors " +
        "rejoined in token order. Spans ride a doc_id equi-join as a " +
        "per-doc array (group size = one doc's span count); the per-" +
        "token keep/drop is a narrow array exists over that list — no " +
        "token-level shuffle, no range join.",
      Some(duckSpanSql(SpanWindow) +
        s"""
           |, tp AS (
           |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok,
           |         CAST(len(t) AS BIGINT) AS n
           |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
           |), cov AS (
           |  SELECT tp.*, EXISTS (
           |           SELECT 1 FROM sp
           |           WHERE sp.doc_id = tp.doc_id
           |             AND tp.pos >= sp.span_start AND tp.pos < sp.span_end
           |         ) AS hit
           |  FROM tp
           |)
           |SELECT doc_id,
           |       any_value(n) AS n_tokens,
           |       CAST(count(*) FILTER (WHERE hit) AS BIGINT) AS n_removed,
           |       coalesce(string_agg(tok, ' ' ORDER BY pos)
           |                  FILTER (WHERE NOT hit), '') AS cleaned_text
           |FROM cov
           |GROUP BY 1
           |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.SpanDedup.removeDupSpans(
          Tables.documents(spark, dir), "doc_id", "text", SpanWindow)
    ),
    Q(
      "q119_snapshot_diff",
      "Corpus snapshot diff by content hash: every key across two crawl " +
        "snapshots classified added / removed / changed / unchanged — " +
        "the data-versioning audit that scopes incremental re-processing " +
        "to the delta. The second snapshot derives deterministically " +
        "from the first (doc_id % 17 removed, % 13 text-mutated, % 11 " +
        "re-keyed as additions under NEGATED keys — outside the id " +
        "domain at any corpus size) so both engines diff identical " +
        "inputs. " +
        "md5 computes AT THE SCAN on each side: the full-outer join " +
        "moves (key, hash) rows, bodies never shuffle.",
      Some("""
        |WITH a AS (
        |  SELECT doc_id AS key, md5(text) AS h FROM documents
        |), b AS (
        |  SELECT doc_id AS key,
        |         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT -doc_id - 1 AS key, md5(text) AS h
        |  FROM documents WHERE doc_id % 11 = 0
        |)
        |SELECT coalesce(a.key, b.key) AS key,
        |       CASE WHEN a.key IS NULL THEN 'added'
        |            WHEN b.key IS NULL THEN 'removed'
        |            WHEN a.h <> b.h THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM a FULL OUTER JOIN b ON a.key = b.key
        |""".stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val newSnap = docs
          .filter(col("doc_id") % 17 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(col("doc_id") % 11 === 0)
            .select((-col("doc_id") - 1L).as("doc_id"), col("text")))
        graft.operators.SnapshotDiff.diff(docs, newSnap, "doc_id", "text")
      }
    ),
    Q(
      "q123_kmv_source_jaccard",
      "Sketch-based pairwise source resemblance: the KMV Jaccard " +
        "estimate for every source pair, computed ENTIRELY from " +
        "per-source 8-minimum-value sketches (the q54 aggregator) — " +
        "q106's overlap matrix at 100 TB cost: the corpus contributes " +
        "one <=8-long sketch per source (map-side-combined), document " +
        "bodies never pair up, and the pair former is a bounded " +
        "nested-loop over the sources-sized sketch table. Estimator: " +
        "k smallest of the merged sketches = kmin_k(A union B); count " +
        "members present in BOTH sketches; all integer until one " +
        "small-int-exact division.",
      Some("""
        |WITH sk AS (
        |  SELECT source, list_slice(list_sort(list(DISTINCT h)), 1, 8) AS kmin
        |  FROM (SELECT source, CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) AS h
        |        FROM documents)
        |  GROUP BY source
        |), p AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         a.kmin AS ka, b.kmin AS kb
        |  FROM sk a, sk b WHERE a.source < b.source
        |), m AS (
        |  SELECT source_a, source_b, ka, kb,
        |         list_slice(list_sort(list_distinct(list_concat(ka, kb))), 1, 8) AS ku
        |  FROM p
        |)
        |SELECT source_a, source_b,
        |       CAST(len(ku) AS BIGINT) AS n_union,
        |       CAST(len(list_filter(ku, x -> list_contains(ka, x) AND list_contains(kb, x))) AS BIGINT) AS n_both,
        |       CAST(len(list_filter(ku, x -> list_contains(ka, x) AND list_contains(kb, x))) AS DOUBLE)
        |         / len(ku) AS jaccard_est
        |FROM m
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CorpusStats.kmvSourceResemblance(
          Tables.documents(spark, dir), "source", "text", k = 8)
    ),
    Q(
      "q126_incremental_update",
      "Incremental corpus update: incoming docs (doc_id odd) classified " +
        "against the existing corpus (doc_id even) as exact_dup " +
        "(content hash present — the q30 hash discipline, bodies never " +
        "shuffle), near_dup (shares a q32 MinHash LSH band bucket with " +
        "an existing doc), or new — the ingest gate of a continuously " +
        "crawled corpus, where only `new` survivors pay downstream " +
        "processing. Both screens are SEMI joins: no pair stream " +
        "materializes, each incoming id appears exactly once.",
      Some {
        def sigFor(rel: String, alias: String): String =
          s"""$alias AS (
             |  SELECT doc_id,
             |       $duckMinhashAggs
             |  FROM (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h
             |        FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS w
             |              FROM $rel))
             |  GROUP BY doc_id
             |)""".stripMargin
        def bandsFor(sig: String, alias: String): String = {
          val branches = (0 until 2).map { b =>
            val cols = (b * 8 until (b + 1) * 8).map(r => s"mh$r").mkString(", ")
            s"SELECT doc_id, $b AS band, md5(concat_ws('_', $cols)) AS key FROM $sig"
          }.mkString("\n  UNION ALL\n  ")
          s"$alias AS (\n  $branches\n)"
        }
        s"""WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
           |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
           |exact AS (
           |  SELECT DISTINCT i.doc_id FROM inc i JOIN ex e ON sha256(i.text) = sha256(e.text)
           |),
           |${sigFor("inc", "sig_i")},
           |${sigFor("ex", "sig_e")},
           |${bandsFor("sig_i", "bi")},
           |${bandsFor("sig_e", "be")},
           |near AS (
           |  SELECT DISTINCT bi.doc_id FROM bi JOIN be ON bi.band = be.band AND bi.key = be.key
           |)
           |SELECT i.doc_id,
           |       CASE WHEN x.doc_id IS NOT NULL THEN 'exact_dup'
           |            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
           |            ELSE 'new' END AS status
           |FROM inc i LEFT JOIN exact x ON i.doc_id = x.doc_id
           |           LEFT JOIN near n ON i.doc_id = n.doc_id""".stripMargin
      },
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        Dedup.incrementalClassify(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", numHashes = NumHashes, bands = 2)
      }
    ),
    Q(
      "q133_dup_token_mass",
      "Per-source duplicated-token mass: the fraction of each source's " +
        "tokens covered by cross-document duplicated spans (the q110 " +
        "merged spans) — 'how much of source X is copied text', the " +
        "number that decides whether a source needs span-level dedup " +
        "before training. Merged spans are disjoint per doc, so the " +
        "per-doc covered count is an exact sum; the rollup joins " +
        "doc-sized frames (doc_id, counts) — bodies never reshuffle " +
        "past the span pipeline itself.",
      Some(
        s"""${duckSpanSql(SpanWindow)}, pd AS (
           |  SELECT doc_id, CAST(SUM(span_end - span_start) AS BIGINT) AS dup_toks
           |  FROM sp GROUP BY 1
           |), dt AS (
           |  SELECT doc_id, source,
           |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks
           |  FROM documents
           |)
           |SELECT source,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(toks) AS BIGINT) AS tokens,
           |       CAST(sum(coalesce(pd.dup_toks, 0)) AS BIGINT) AS dup_tokens,
           |       CAST(sum(coalesce(pd.dup_toks, 0)) AS DOUBLE) / sum(toks) AS dup_frac
           |FROM dt LEFT JOIN pd USING (doc_id)
           |GROUP BY source""".stripMargin),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val perDoc = graft.operators.SpanDedup
          .dupSpans(docs, "doc_id", "text", SpanWindow)
          .groupBy("doc_id")
          .agg(sum(col("span_end") - col("span_start")).as("dup_toks"))
        docs.select(col("doc_id"), col("source"),
            graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
          .join(perDoc, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("toks").as("tokens"),
            sum(coalesce(col("dup_toks"), lit(0L))).as("dup_tokens"))
          .select(
            col("source"), col("n_docs"), col("tokens"), col("dup_tokens"),
            (col("dup_tokens").cast("double") / col("tokens").cast("double"))
              .as("dup_frac"))
      }
    ),
    Q(
      "q138_dup_pagerank",
      "Integer fixed-point PageRank over the near-dup candidate graph " +
        "(5 damped iterations at BIGINT scale 1e12): duplication-hub " +
        "importance — a curation pass keeps the hub as canonical and " +
        "drops satellites. Every division is an explicit truncating " +
        "div at a fixed dataflow point (contrib per node, teleport, " +
        "damped sum), so the iterate is exact under any partitioning " +
        "and the oracle UNROLLS the same rounds as generated CTE " +
        "triplets (recursive CTEs cannot aggregate in the recursive " +
        "term). Per iteration: one node-keyed join, one edge-keyed " +
        "join carrying a single long per edge, one map-side-combined " +
        "sum — the q36 iteration discipline with lineage checkpoints; " +
        "run once per curation run and served from the derived table " +
        "(DupGraphPhases.buildDerived).",
      Some {
        val iters = (1 to 5).map { k =>
          s"""c$k AS (
             |  SELECT r.id, r.rank // d.outdeg AS c
             |  FROM r${k - 1} r JOIN deg d ON d.src = r.id
             |), s$k AS (
             |  SELECT e.dst AS id, CAST(SUM(c.c) AS BIGINT) AS s
             |  FROM edges e JOIN c$k c ON c.id = e.src GROUP BY 1
             |), r$k AS (
             |  SELECT r.id,
             |         ((15 * (1000000000000 // (SELECT n_total FROM n))) // 100)
             |           + (85 * COALESCE(s.s, 0)) // 100 AS rank
             |  FROM r${k - 1} r LEFT JOIN s$k s ON s.id = r.id
             |)""".stripMargin
        }.mkString(",\n")
        s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs
           |), deg AS (
           |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1
           |), n AS (
           |  SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_total FROM edges
           |), r0 AS (
           |  SELECT src AS id, 1000000000000 // (SELECT n_total FROM n) AS rank
           |  FROM (SELECT DISTINCT src FROM edges)
           |),
           |$iters
           |SELECT id AS doc_id, rank FROM r5""".stripMargin
      },
      (spark, dir) =>
        DupGraphPhases.ranks(spark, dir)
          .select(col("id").as("doc_id"), col("rank")),
      bench = Seq(
        Phase.build("dupgraph_derive")(DupGraphPhases.buildDerived),
        Phase.Self)
    ),
    Q(
      "q142_canonical_by_rank",
      "Rank-aware canonical selection: each near-dup cluster keeps its " +
        "PageRank-most-central member (tiebreak min id) instead of " +
        "q37's min-id convention — 'keep the hub, drop the " +
        "satellites', the curation policy that preserves the most " +
        "connected (usually most complete) copy. Composes the q36 " +
        "components and the q138 fixed-point ranks, PROBED from the " +
        "derived tables (DupGraphPhases.buildDerived — both bucketed " +
        "by id, so the comp-rank join is exchange-free); the canonical " +
        "table is components-sized and joins back on the component key.",
      Some(
        s"""$duckGraphCanonicalCte
           |SELECT l.id AS doc_id, l.comp, can.canonical_id
           |FROM labels l JOIN can ON can.comp = l.comp""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        // comp and rank come from the derived tables (both bucketed by
        // id, same bucket count -> their join needs no exchange on id);
        // the canonical pick is a components-sized window.
        val comp = DupGraphPhases.components(spark, dir)
        val ranks = DupGraphPhases.ranks(spark, dir)
        val w = Window.partitionBy("comp").orderBy(col("rank").desc, col("id"))
        val can = comp.join(ranks, Seq("id"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("comp"), col("id").as("canonical_id"))
        comp.join(can, Seq("comp"))
          .select(col("id").as("doc_id"), col("comp"), col("canonical_id"))
      }
    ),
    Q(
      "q135_dup_degree_histogram",
      "Near-dup graph degree histogram per source: how many candidate " +
        "partners each doc has (the q32 banding), rolled up to (source, " +
        "degree, n_docs) — dup HUBS (template farms, mirror sites) show " +
        "up as high-degree tails concentrated in one source. The source " +
        "label rode the signature groupBy and the banding carry at " +
        "build time (the q106 pattern), so the probe never joins back " +
        "on the pair stream; the degree aggregate is map-side combined " +
        "on doc ids over the materialized pairs.",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2
           |), deg AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
           |    SELECT doc_a AS doc_id FROM pairs
           |    UNION ALL
           |    SELECT doc_b AS doc_id FROM pairs
           |  ) GROUP BY 1
           |)
           |SELECT d.source, deg.degree, CAST(count(*) AS BIGINT) AS n_docs
           |FROM deg JOIN documents d USING (doc_id)
           |GROUP BY 1, 2""".stripMargin),
      (spark, dir) => {
        val pairs = DupGraphPhases.pairs(spark, dir)
        pairs.select(col("doc_a").as("doc_id"), col("source_a").as("source"))
          .unionByName(
            pairs.select(col("doc_b").as("doc_id"), col("source_b").as("source")))
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("degree"))
          .groupBy("source", "degree")
          .agg(count(lit(1)).as("n_docs"))
      }
    ),
    Q(
      "q143_curation_capstone",
      "Dup-graph curation capstone, end-to-end off the BUILT pair graph " +
        "(zero signature recomputation — DupGraphSpec pins the probe " +
        "plan): components -> fixed-point ranks -> rank-aware canonical " +
        "per cluster -> drop the satellites -> per-source kept/dropped " +
        "doc and token mass (the q133-style rollup) — the full curation " +
        "policy report a training pipeline signs off on. Satellite set " +
        "is components-sized; the rollup joins doc-sized frames, and " +
        "singleton docs (no pairs) are kept by construction.",
      Some(
        s"""$duckGraphCanonicalCte, sat AS (
           |  SELECT l.id FROM labels l JOIN can ON can.comp = l.comp
           |  WHERE l.id <> can.canonical_id
           |), dt AS (
           |  SELECT doc_id, source,
           |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks,
           |         doc_id IN (SELECT id FROM sat) AS dropped
           |  FROM documents WHERE doc_id < 1000
           |)
           |SELECT source,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(count(*) FILTER (WHERE NOT dropped) AS BIGINT) AS kept_docs,
           |       CAST(count(*) FILTER (WHERE dropped) AS BIGINT) AS dropped_docs,
           |       CAST(coalesce(sum(toks) FILTER (WHERE NOT dropped), 0) AS BIGINT) AS kept_tokens,
           |       CAST(coalesce(sum(toks) FILTER (WHERE dropped), 0) AS BIGINT) AS dropped_tokens
           |FROM dt GROUP BY source""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(spark, dir).filter(col("doc_id") < 1000)
        val comp = DupGraphPhases.components(spark, dir)
        val ranks = DupGraphPhases.ranks(spark, dir)
        val w = Window.partitionBy("comp").orderBy(col("rank").desc, col("id"))
        val can = comp.join(ranks, Seq("id"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("comp"), col("id").as("canonical_id"))
        val satellites = comp.join(can, Seq("comp"))
          .filter(col("id") =!= col("canonical_id"))
          .select(col("id").as("doc_id"), lit(true).as("__dropped"))
        docs.select(col("doc_id"), col("source"),
            graft.operators.TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
          .join(satellites, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("__dropped"), 0L).otherwise(1L)).as("kept_docs"),
            sum(when(col("__dropped"), 1L).otherwise(0L)).as("dropped_docs"),
            sum(when(col("__dropped"), 0L).otherwise(col("toks"))).as("kept_tokens"),
            sum(when(col("__dropped"), col("toks")).otherwise(0L)).as("dropped_tokens"))
      }
    ),
    Q(
      "q144_canonical_routing",
      "Ingest-time canonical ROUTING: each incoming document (doc_id " +
        "odd, the q126 convention) that near-dups the existing corpus " +
        "(even) is told WHICH cluster it duplicates — the canonical " +
        "(min-id) of the matched existing component, or NULL for novel " +
        "docs. Pure probe composition over TWO materialized products: " +
        "the built pair graph and the per-curation-run SERVING component " +
        "map (existing-existing pairs -> components, singletons " +
        "coalesced, bucketed by id); incoming-existing edges " +
        "are the MIXED-parity rows of the same pair table (sharing a " +
        "band IS the pair relation — no re-mining); route = min matched " +
        "canonical. The streaming twin is " +
        "DocumentStream.canonicalRouted (band-key broadcast joins, " +
        "row-local).",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), epairs AS (
           |  SELECT doc_a, doc_b FROM pairs WHERE doc_a % 2 = 0 AND doc_b % 2 = 0
           |), eedges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM epairs
           |  UNION SELECT doc_b, doc_a FROM epairs
           |), labels AS (
           |  WITH RECURSIVE reach(id, lab) AS (
           |    SELECT DISTINCT src, src FROM eedges
           |    UNION
           |    SELECT e.src, r.lab FROM eedges e JOIN reach r ON r.id = e.dst
           |  )
           |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
           |), full_comp AS (
           |  SELECT e.doc_id AS id, COALESCE(l.comp, e.doc_id) AS comp
           |  FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) e
           |  LEFT JOIN labels l ON l.id = e.doc_id
           |), mixed AS (
           |  SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS inc_id,
           |         CASE WHEN doc_a % 2 = 1 THEN doc_b ELSE doc_a END AS ex_id
           |  FROM pairs WHERE (doc_a % 2) <> (doc_b % 2)
           |), routed AS (
           |  SELECT m.inc_id, MIN(fc.comp) AS canonical_id
           |  FROM mixed m JOIN full_comp fc ON fc.id = m.ex_id
           |  GROUP BY 1
           |)
           |SELECT i.doc_id, r.canonical_id
           |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) i
           |LEFT JOIN routed r ON r.inc_id = i.doc_id""".stripMargin),
      (spark, dir) => {
        val p = DupGraphPhases.pairs(spark, dir)
        val docs = Tables.documents(spark, dir)
        // min-label convention: comp IS the cluster's min id = canonical.
        // The serving map is the MATERIALIZED per-curation-run product
        // (DupGraphPhases.buildServing) — routing probes it instead of
        // re-running full-corpus label propagation per call.
        val fullComp = DupGraphPhases.servingComponents(spark, dir)
        val mixed = p.filter((col("doc_a") % 2) =!= (col("doc_b") % 2))
          .select(
            when(col("doc_a") % 2 === 1, col("doc_a")).otherwise(col("doc_b"))
              .as("inc_id"),
            when(col("doc_a") % 2 === 1, col("doc_b")).otherwise(col("doc_a"))
              .as("ex_id"))
        val routed = mixed.join(fullComp, col("ex_id") === col("id"))
          .groupBy("inc_id").agg(min("comp").as("canonical_id"))
        docs.filter(col("doc_id") % 2 === 1).select("doc_id")
          .join(routed, col("doc_id") === col("inc_id"), "left")
          .select(col("doc_id"), col("canonical_id"))
      },
      bench = Seq(
        Phase.build("dupgraph_serving")(DupGraphPhases.buildServing),
        Phase.Self)
    ),
    Q(
      "q145_incremental_components",
      "Incremental cluster-map maintenance: fold an ingest batch (odd " +
        "doc_ids, the q126 convention) into the existing corpus's " +
        "(even) component map at DELTA cost — arrivals' pairs are " +
        "lifted into label space (existing endpoint -> its comp, new " +
        "-> own id), components run on that delta-sized label graph, " +
        "and the corpus map is relabeled through a broadcast merge " +
        "map, never shuffled. Min-label convention makes the " +
        "incremental result provably EQUAL to a full recompute over " +
        "the merged corpus — which is exactly what the oracle runs " +
        "(recursive-CTE flooding over the full doc_id<1000 pair " +
        "graph). Sub-corpus bound shared with q142/q143 for oracle " +
        "tractability.",
      Some(
        s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs
           |), labels AS (
           |  WITH RECURSIVE reach(id, lab) AS (
           |    SELECT DISTINCT src, src FROM edges
           |    UNION
           |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
           |  )
           |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
           |)
           |SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS comp
           |FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) d
           |LEFT JOIN labels l ON l.id = d.doc_id""".stripMargin),
      (spark, dir) => {
        val p = DupGraphPhases
          .pairsUnder(spark, dir, DupGraphPhases.DerivedMaxId)
          .select("doc_a", "doc_b")
        val docs = Tables.documents(spark, dir)
          .filter(col("doc_id") < DupGraphPhases.DerivedMaxId)
        // "Yesterday's corpus": even ids, with a TOTAL (id, comp) map
        // (singletons coalesced) — the Components.incremental contract.
        // A MATERIALIZED per-curation-run product (DupGraphPhases
        // .buildDerived), probed here: recomputing it inline made this
        // query's cost ~90% base-map construction instead of the
        // delta-cost incremental step it exists to demonstrate.
        val baseComp = DupGraphPhases.evenBaseComponents(spark, dir)
        // "Today's batch": odd ids; its delta pairs are every built pair
        // with >= 1 odd endpoint (band keys are per-document, so this IS
        // the full delta — no old-old pair changes when docs arrive).
        val delta =
          p.filter((col("doc_a") % 2 === 1) || (col("doc_b") % 2 === 1))
        val newIds = docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id").as("id"))
        // 2 partitions: the incremental step's only shuffled frames are
        // label-graph-sized (<= delta), where task count is pure
        // overhead; the corpus-sized base map streams through broadcast
        // joins and never shuffles regardless.
        Components
          .incremental(baseComp, newIds, delta, numPartitions = Some(2))
          .select(col("id").as("doc_id"), col("comp"))
      }
    ),
    Q(
      "q146_cluster_safe_split",
      "LEAKAGE-SAFE train/val/test split: q102 measures how a naive " +
        "per-doc hash split (q38) strands near-duplicates across the " +
        "train/test boundary; this is the fix — hash the CLUSTER id " +
        "(the derived component map's comp, singletons = own id), so " +
        "every doc in a near-dup cluster lands in the same split by " +
        "construction. The assignment is a row-local md5 bucket on " +
        "comp over the materialized map (a bucketed-table read — zero " +
        "mining, zero iteration at split time), so the operator is a " +
        "narrow map over corpus-sized data at any scale. Sub-corpus " +
        "bound shared with q142/q143 for oracle tractability; " +
        "DupGraphSpec pins the zero-cross-split-pair property.",
      Some(
        s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs
           |), labels AS (
           |  WITH RECURSIVE reach(id, lab) AS (
           |    SELECT DISTINCT src, src FROM edges
           |    UNION
           |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
           |  )
           |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
           |), cm AS (
           |  SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS comp
           |  FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) d
           |  LEFT JOIN labels l ON l.id = d.doc_id
           |)
           |SELECT doc_id, comp,
           |       CASE WHEN b < 80 THEN 'train'
           |            WHEN b < 90 THEN 'val'
           |            ELSE 'test' END AS split
           |FROM (
           |  SELECT doc_id, comp,
           |         CAST('0x' || substr(md5('csplit:' || CAST(comp AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
           |  FROM cm
           |)""".stripMargin),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
          .filter(col("doc_id") < DupGraphPhases.DerivedMaxId)
        docs.select(col("doc_id"))
          .join(DupGraphPhases.components(spark, dir)
            .withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("comp"), col("doc_id")).as("comp"))
          .withColumn("split",
            Sampling.splitLabel(col("comp"), trainPct = 80, valPct = 10,
              salt = "csplit:"))
      }
    ),
    Q(
      "q149_incremental_ranks",
      "Incremental RANK maintenance — the q145 companion that closes " +
        "the ingest-time story: arrivals (odd ids) perturb importance " +
        "only within the components they touch, so ranks are recomputed " +
        "for TOUCHED components alone (the fixed-point iterations run " +
        "on the touched subgraph only) while every untouched " +
        "component's ranks are read back from the materialized " +
        "component-LOCAL rank table (PageRank.localRanks: r0 = Scale, " +
        "constant teleport — no graph-global N, so a component's ranks " +
        "are bit-equal computed alone or inside the full graph; the " +
        "graph-normalized q138 form cannot be maintained this way " +
        "because N shifts globally on every arrival). Result provably " +
        "equals a full merged-graph recompute row for row — which is " +
        "what the oracle runs. The touched membership set and the " +
        "touched-subgraph fixed point are ONE stored per-batch " +
        "product (DupGraphPhases.buildTouched) shared with q150, and " +
        "consumers join it WITHOUT a broadcast hint — the set's worst " +
        "case (a viral near-dup cluster) is component-sized, so AQE " +
        "picks broadcast from its actual size; the corpus-sized tables " +
        "are scanned, never shuffled. Sub-corpus bound shared with " +
        "q142-q146.",
      Some {
        val scale = graft.operators.PageRank.Scale
        val teleport = (15L * scale) / 100L
        val iters = (1 to 5).map { k =>
          s"""c$k AS (
             |  SELECT r.id, r.rank // d.outdeg AS c
             |  FROM r${k - 1} r JOIN deg d ON d.src = r.id
             |), s$k AS (
             |  SELECT e.dst AS id, CAST(SUM(c.c) AS BIGINT) AS s
             |  FROM edges e JOIN c$k c ON c.id = e.src GROUP BY 1
             |), r$k AS (
             |  SELECT r.id,
             |         $teleport + (85 * COALESCE(s.s, 0)) // 100 AS rank
             |  FROM r${k - 1} r LEFT JOIN s$k s ON s.id = r.id
             |)""".stripMargin
        }.mkString(",\n")
        s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs
           |), deg AS (
           |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1
           |), r0 AS (
           |  SELECT DISTINCT src AS id, CAST($scale AS BIGINT) AS rank FROM edges
           |),
           |$iters
           |SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank FROM r5""".stripMargin
      },
      (spark, dir) => {
        // Both per-batch delta products (touched membership, touched-
        // subgraph local-rank fixed point) come from the stored
        // DupGraphPhases.buildTouched — q150 decides canonicals from
        // the SAME product, so the fixed point is paid once per ingest
        // batch, not once per maintenance query. No broadcast hint on
        // the membership set: one viral near-dup cluster makes it
        // component-sized (unbounded by the arrival count), and a
        // forced broadcast of it is a driver cliff at 100 TB — AQE
        // broadcasts it when it is actually small (DupGraphSpec pins
        // the chosen strategy at test scale).
        val recomputed = DupGraphPhases.touchedLocalRanks(spark, dir)
        val untouched = DupGraphPhases.evenLocalRanks(spark, dir)
          .join(DupGraphPhases.touchedIds(spark, dir), Seq("id"), "left_anti")
        recomputed.unionByName(untouched)
          .select(col("id").as("doc_id"), col("rank"))
      },
      bench = Seq(
        Phase.build("dupgraph_touched")(DupGraphPhases.buildTouched),
        Phase.Self)
    ),
    Q(
      "q150_incremental_canonicals",
      "Incremental CANONICAL maintenance — the q144-q149 ingest story's " +
        "capstone: per-cluster rank-aware canonicals (top component-" +
        "local rank, tiebreak min id) updated at DELTA cost when a " +
        "batch arrives. Components an arrival touches get their " +
        "canonical re-decided from the q149-style recomputed subgraph " +
        "ranks; every untouched cluster's (comp, canonical_id) row is " +
        "read back VERBATIM from the materialized even canonical table " +
        "— valid because component-local ranks (no graph-global N) and " +
        "min-label component ids are both stable under arrivals " +
        "elsewhere, so an untouched cluster's membership, label, ranks, " +
        "and argmax are all unchanged. Equals a full merged-graph " +
        "recompute row for row (the oracle: flooded labels + unrolled " +
        "local-rank rounds + per-component QUALIFY argmax). Probes the " +
        "SAME stored per-batch touched product as q149 (membership + " +
        "subgraph ranks, DupGraphPhases.buildTouched) without broadcast " +
        "hints — the membership set is component-sized in the worst " +
        "case, so AQE decides; corpus-sized tables are scanned, never " +
        "shuffled.",
      Some {
        val scale = graft.operators.PageRank.Scale
        val teleport = (15L * scale) / 100L
        val iters = (1 to 5).map { k =>
          s"""c$k AS (
             |  SELECT r.id, r.rank // d.outdeg AS c
             |  FROM r${k - 1} r JOIN deg d ON d.src = r.id
             |), s$k AS (
             |  SELECT e.dst AS id, CAST(SUM(c.c) AS BIGINT) AS s
             |  FROM edges e JOIN c$k c ON c.id = e.src GROUP BY 1
             |), r$k AS (
             |  SELECT r.id,
             |         $teleport + (85 * COALESCE(s.s, 0)) // 100 AS rank
             |  FROM r${k - 1} r LEFT JOIN s$k s ON s.id = r.id
             |)""".stripMargin
        }.mkString(",\n")
        s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION ALL SELECT doc_b, doc_a FROM pairs
           |), labels AS (
           |  WITH RECURSIVE reach(id, lab) AS (
           |    SELECT DISTINCT src, src FROM edges
           |    UNION
           |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
           |  )
           |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
           |), deg AS (
           |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1
           |), r0 AS (
           |  SELECT DISTINCT src AS id, CAST($scale AS BIGINT) AS rank FROM edges
           |),
           |$iters
           |SELECT l.comp, r.id AS canonical_id
           |FROM labels l JOIN r5 r ON r.id = l.id
           |QUALIFY ROW_NUMBER() OVER (PARTITION BY l.comp ORDER BY r.rank DESC, r.id) = 1""".stripMargin
      },
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        // The touched membership and the touched-subgraph rank fixed
        // point are the stored per-batch product built once by
        // DupGraphPhases.buildTouched and shared with q149 — a real
        // pipeline decides ranks AND canonicals from one delta product
        // per ingest batch. No broadcast hint on the membership set
        // (component-sized worst case — a viral cluster would make a
        // forced broadcast a driver cliff); AQE picks the strategy
        // from the actual size.
        val mergedComp = DupGraphPhases.components(spark, dir)
        val touchedIds = DupGraphPhases.touchedIds(spark, dir)
        val tRanks = DupGraphPhases.touchedLocalRanks(spark, dir)
        // Re-decide canonicals for touched components only: recomputed
        // ranks joined back to the merged labels (touched slice), argmax
        // bounded per cluster by WindowGroupLimit.
        val w = Window.partitionBy("comp").orderBy(col("rank").desc, col("id"))
        val touchedCan = tRanks
          .join(mergedComp, Seq("id"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("comp"), col("id").as("canonical_id"))
        // Screen the even table by member id, NOT by merged label: a
        // touched even component keeps its row keyed by its EVEN label,
        // which an odd arrival may have displaced as the merged min —
        // but that even label is itself a member id, so membership in
        // touchedIds is exactly "my component was touched".
        val untouchedCan = DupGraphPhases.evenCanonicals(spark, dir)
          .join(touchedIds.withColumnRenamed("id", "comp"),
            Seq("comp"), "left_anti")
        touchedCan.unionByName(untouchedCan)
      }
    ),
    Q(
      "q152_serving_refresh",
      "Incremental serving-map REFRESH + post-refresh routing — the " +
        "serving-side consumer of the q145 contract: instead of " +
        "re-running full-corpus label propagation per refresh (the " +
        "buildServing cost), the arrival batch (odd ids) is FOLDED into " +
        "the materialized serving component map at delta cost " +
        "(Components.incremental: delta pairs lifted to label space, " +
        "merge map broadcast, corpus map scanned never shuffled), the " +
        "refreshed map is materialized bucketed by id, and each " +
        "arrival is routed against it — its post-refresh cluster " +
        "canonical (merged min id). Unlike q144's pre-refresh routing " +
        "(NULL for novel docs), every arrival now has a home: novel " +
        "docs became their own singleton cluster at fold time, and " +
        "bridging arrivals see the merged (lower) canonical. Equals a " +
        "from-scratch rebuild over the merged corpus row for row — " +
        "which is what the oracle runs (full-corpus flooding).",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs
           |), labels AS (
           |  WITH RECURSIVE reach(id, lab) AS (
           |    SELECT DISTINCT src, src FROM edges
           |    UNION
           |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
           |  )
           |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
           |)
           |SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS canonical_id
           |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
           |LEFT JOIN labels l ON l.id = d.doc_id""".stripMargin),
      (spark, dir) => {
        // Pure probe: the refresh itself is the stored per-batch
        // phase (DupGraphPhases.refreshServing, own bench line); the
        // query is the routing read a production ingest pipeline runs
        // per arrival — a bucketed-table join on id.
        val arrivals = Tables.documents(spark, dir)
          .filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"))
        arrivals
          .join(DupGraphPhases.refreshedServing(spark, dir),
            col("doc_id") === col("id"))
          .select(col("doc_id"), col("comp").as("canonical_id"))
      },
      bench = Seq(
        // a ~2% batch (the incremental regime) and the fixture's 50% batch;
        // read both against dupgraph_serving, the full rebuild
        Phase.build("dupgraph_refresh_delta")(DupGraphPhases.refreshServingSmallDelta),
        Phase.build("dupgraph_refresh")(DupGraphPhases.refreshServing),
        Phase.Self)
    ),
    Q(
      "q154_refresh_small_delta",
      "Small-delta serving refresh + routing — q152's incremental fold " +
        "in its DESIGN regime: a ~2% arrival batch (ids = 1 mod 50) " +
        "folded into the even serving map at delta cost " +
        "(Components.incremental — delta-sized label graph, corpus map " +
        "scanned never shuffled), each arrival routed to its " +
        "post-refresh cluster canonical. The q152 fixture batch is half " +
        "the corpus, where one full flood legitimately wins; this is " +
        "the per-ingest-batch geometry the incremental path exists for " +
        "(bench: dupgraph_refresh_delta vs dupgraph_serving). Equals a " +
        "from-scratch rebuild over the merged (even + arrivals) corpus " +
        "row for row — what the oracle floods.",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |  WHERE (a.doc_id % 2 = 0 OR a.doc_id % 50 = 1)
           |    AND (b.doc_id % 2 = 0 OR b.doc_id % 50 = 1)
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs
           |), labels AS (
           |  WITH RECURSIVE reach(id, lab) AS (
           |    SELECT DISTINCT src, src FROM edges
           |    UNION
           |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
           |  )
           |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
           |)
           |SELECT d.doc_id, COALESCE(l.comp, d.doc_id) AS canonical_id
           |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 = 1) d
           |LEFT JOIN labels l ON l.id = d.doc_id""".stripMargin),
      (spark, dir) => {
        // Pure probe of the stored small-delta refreshed map
        // (DupGraphPhases.refreshServingSmallDelta, own bench line).
        val arrivals = DupGraphPhases.smallDeltaArrivals(spark, dir)
          .select(col("id").as("doc_id"))
        arrivals
          .join(DupGraphPhases.smallDeltaServing(spark, dir),
            col("doc_id") === col("id"))
          .select(col("doc_id"), col("comp").as("canonical_id"))
      }
    ),
    Q(
      "q167_dup_triangles",
      "Per-document TRIANGLE participation in the near-dup graph — the " +
        "cluster-density diagnostic components can't give: a tight " +
        "paraphrase cluster is a near-clique (every member in many " +
        "triangles) while a chain of borderline pairs has none, and " +
        "that distinction drives whether a whole cluster collapses to " +
        "one canonical or gets human review. Counted by TRUE-TWIN " +
        "COLLAPSE (Triangles.vertexTriangleCountsCollapsed): the sf0.1 " +
        "pair graph packs 1.14 BILLION triangles into 2M edges (giant " +
        "near-cliques), so ANY enumerating algorithm — even the " +
        "degree-oriented compact-forward — is Omega(#triangles) and " +
        "dies exactly where dup graphs live; instead, vertices with " +
        "identical closed neighborhoods collapse to classes (4533 -> " +
        "1097 on that fixture), triangles are enumerated only on the " +
        "~6k-edge quotient, and per-doc counts expand combinatorially " +
        "from class sizes — one linear adjacency shuffle total. The " +
        "oracle counts by brute enumeration over the re-mined pairs, " +
        "so the collapse arithmetic is checked doc for doc.",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), tri AS (
           |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
           |  FROM pairs e1
           |  JOIN pairs e2 ON e1.doc_b = e2.doc_a
           |  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
           |), m AS (
           |  SELECT a AS doc_id FROM tri
           |  UNION ALL SELECT b FROM tri
           |  UNION ALL SELECT c FROM tri
           |)
           |SELECT doc_id, count(*) AS n_triangles FROM m GROUP BY 1""".stripMargin),
      (spark, dir) => TrianglePhases.counts(spark, dir),
      bench = Seq(
        Phase.build("q167_tri_build")(TrianglePhases.build),
        Phase.Self)
    ),
    Q(
      "q168_clustering_coefficient",
      "Local clustering coefficient per document (deg >= 2): " +
        "2*triangles / (deg*(deg-1)) — the normalized form of q167 " +
        "that makes cluster tightness comparable ACROSS degrees (a " +
        "20-triangle hub may be looser than a 1-triangle pair-of-" +
        "pairs). lcc ~ 1 marks a paraphrase clique safe to collapse to " +
        "one canonical; lcc ~ 0 marks a chain of borderline matches " +
        "needing review. Numerator/denominator emitted as exact " +
        "BIGINTs, the coefficient as one IEEE divide (the engine's " +
        "rational-before-double discipline). Cost on top of q167: one " +
        "node-sized degree agg and one node-sized join — the triangle " +
        "stage dominates.",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), deg AS (
           |  SELECT doc_id, count(*) AS deg
           |  FROM (SELECT doc_a AS doc_id FROM pairs
           |        UNION ALL SELECT doc_b FROM pairs)
           |  GROUP BY 1
           |), tri AS (
           |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
           |  FROM pairs e1
           |  JOIN pairs e2 ON e1.doc_b = e2.doc_a
           |  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
           |), tc AS (
           |  SELECT doc_id, count(*) AS n_triangles
           |  FROM (SELECT a AS doc_id FROM tri
           |        UNION ALL SELECT b FROM tri
           |        UNION ALL SELECT c FROM tri)
           |  GROUP BY 1
           |)
           |SELECT d.doc_id, d.deg,
           |       COALESCE(t.n_triangles, 0) AS n_triangles,
           |       CAST(2 * COALESCE(t.n_triangles, 0) AS BIGINT) AS lcc_num,
           |       CAST(d.deg * (d.deg - 1) AS BIGINT) AS lcc_den,
           |       CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
           |         / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS lcc
           |FROM deg d LEFT JOIN tc t USING (doc_id)
           |WHERE d.deg >= 2""".stripMargin),
      (spark, dir) => {
        val e = DupGraphPhases.pairs(spark, dir).select("doc_a", "doc_b")
        val deg = e.select(col("doc_a").as("doc_id"))
          .unionAll(e.select(col("doc_b").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("deg"))
        val tri = TrianglePhases.counts(spark, dir)
        deg.filter(col("deg") >= 2)
          .join(tri, Seq("doc_id"), "left")
          .select(col("doc_id"), col("deg"),
            coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
            (coalesce(col("n_triangles"), lit(0L)) * 2).as("lcc_num"),
            (col("deg") * (col("deg") - 1)).as("lcc_den"))
          .withColumn("lcc",
            col("lcc_num").cast("double") / col("lcc_den").cast("double"))
      }
    ),
    Q(
      "q170_truss_canonicals",
      "Truss-refined canonical assignment: drop every pair edge in ZERO " +
        "triangles (the 3-truss cut, support from q167's closed-" +
        "triangle stage), then re-component — severing the bridge edges " +
        "that chain two dense paraphrase cliques through one borderline " +
        "match, the transitive-merge failure mode plain connected " +
        "components cannot see (one bad pair fuses two clusters and " +
        "over-deletes under min-id survivorship). Docs keep a row only " +
        "while a triangle-supported edge keeps them connected; " +
        "singletons fall out rather than inheriting a chained " +
        "canonical. Support comes from the q167 twin collapse (per-" +
        "edge closed-form from class sizes + one wedge join on the " +
        "tiny quotient — never a triangle enumeration), and because " +
        "survival is UNIFORM per class bundle, even the component " +
        "rounds run on the ~1k-node quotient survivor graph and labels " +
        "expand to members — the 2M-edge truss graph is never " +
        "materialized (Triangles.trussCanonicalsCollapsed).",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), tri AS (
           |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
           |  FROM pairs e1
           |  JOIN pairs e2 ON e1.doc_b = e2.doc_a
           |  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
           |), sup AS (
           |  SELECT ea, eb, count(*) AS support
           |  FROM (SELECT a AS ea, b AS eb FROM tri
           |        UNION ALL SELECT a, c FROM tri
           |        UNION ALL SELECT b, c FROM tri)
           |  GROUP BY 1, 2
           |), truss AS (
           |  SELECT p.doc_a, p.doc_b
           |  FROM pairs p JOIN sup s ON s.ea = p.doc_a AND s.eb = p.doc_b
           |  WHERE s.support >= 1
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM truss
           |  UNION SELECT doc_b, doc_a FROM truss
           |), labels AS (
           |  WITH RECURSIVE reach(id, lab) AS (
           |    SELECT DISTINCT src, src FROM edges
           |    UNION
           |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
           |  )
           |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
           |)
           |SELECT id AS doc_id, comp AS canonical_id FROM labels""".stripMargin),
      (spark, dir) => TrianglePhases.trussCanonicals(spark, dir)
    ),
    Q(
      "q171_twin_quotient",
      "The twin decomposition itself, audited: one row per twin class " +
        "(label = min member id, size, quotient degree) — the collapse-" +
        "health diagnostic behind the q167/q168/q170 family (how much " +
        "did the graph shrink, is one boilerplate class dominating), " +
        "and the DIRECT verification of the closed-neighborhood " +
        "partition those three queries stand on: the oracle recomputes " +
        "the md5 adjacency fingerprints from scratch, so any drift in " +
        "the class structure hash-mismatches here before it silently " +
        "skews a triangle count. Linear: one adjacency shuffle, one " +
        "fingerprint agg, one edge double-join for the quotient.",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), und AS (
           |  SELECT DISTINCT doc_id, n FROM (
           |    SELECT doc_a AS doc_id, doc_b AS n FROM pairs
           |    UNION ALL SELECT doc_b, doc_a FROM pairs
           |    UNION ALL SELECT doc_a, doc_a FROM pairs
           |    UNION ALL SELECT doc_b, doc_b FROM pairs)
           |), adj AS (
           |  SELECT doc_id, md5(string_agg(CAST(n AS VARCHAR), ',' ORDER BY n)) AS nb
           |  FROM und GROUP BY 1
           |), cls AS (
           |  SELECT nb, CAST(min(doc_id) AS BIGINT) AS cls, count(*) AS s
           |  FROM adj GROUP BY 1
           |), vcls AS (
           |  SELECT a.doc_id, c.cls FROM adj a JOIN cls c USING (nb)
           |), qe AS (
           |  SELECT DISTINCT least(x.cls, y.cls) AS qa, greatest(x.cls, y.cls) AS qb
           |  FROM pairs p
           |  JOIN vcls x ON x.doc_id = p.doc_a
           |  JOIN vcls y ON y.doc_id = p.doc_b
           |  WHERE x.cls <> y.cls
           |), qd AS (
           |  SELECT cls, count(*) AS q_deg
           |  FROM (SELECT qa AS cls FROM qe UNION ALL SELECT qb FROM qe)
           |  GROUP BY 1
           |)
           |SELECT c.cls, c.s, COALESCE(qd.q_deg, 0) AS q_deg
           |FROM cls c LEFT JOIN qd ON qd.cls = c.cls""".stripMargin),
      (spark, dir) => TrianglePhases.stats(spark, dir)
    ),
    Q(
      "q173_twin_fold",
      "Twin-decomposition FOLD — the incremental discipline applied to " +
        "the graph-structure layer itself: a fingerprint depends only " +
        "on N[v], so an arrival batch (the q154 ~2% small-delta pair " +
        "geometry) re-hashes ONLY the delta edges' endpoints — their " +
        "merged adjacency comes from one stored-edge pass pruned to " +
        "the broadcast touched set — while every untouched fingerprint " +
        "row carries over verbatim, and the class re-grouping is node-" +
        "sized. Output: the merged graph's twin classes (label, size), " +
        "which the oracle floods from scratch — so the fold's " +
        "carry-over logic is checked class for class. At 100 TB the " +
        "full rebuild re-shuffles every adjacency list; the fold " +
        "shuffles the arrival footprint.",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |  WHERE (a.doc_id % 2 = 0 OR a.doc_id % 50 = 1)
           |    AND (b.doc_id % 2 = 0 OR b.doc_id % 50 = 1)
           |), und AS (
           |  SELECT DISTINCT doc_id, n FROM (
           |    SELECT doc_a AS doc_id, doc_b AS n FROM pairs
           |    UNION ALL SELECT doc_b, doc_a FROM pairs
           |    UNION ALL SELECT doc_a, doc_a FROM pairs
           |    UNION ALL SELECT doc_b, doc_b FROM pairs)
           |), adj AS (
           |  SELECT doc_id, md5(string_agg(CAST(n AS VARCHAR), ',' ORDER BY n)) AS nb
           |  FROM und GROUP BY 1
           |)
           |SELECT CAST(min(doc_id) AS BIGINT) AS cls, count(*) AS s
           |FROM adj GROUP BY nb""".stripMargin),
      (spark, dir) => {
        import graft.operators.Triangles
        TwinFoldPhases.ensureStored(spark, dir)
        // dedupTouched = false: stored and delta are mined-pair-table
        // slices — deduplicated, canonical, disjoint by construction.
        val folded = Triangles.refreshFingerprints(
          spark.table(TwinFoldPhases.fpTable(dir)),
          TwinFoldPhases.evenPairs(spark, dir),
          TwinFoldPhases.deltaPairs(spark, dir),
          "doc_a", "doc_b", dedupTouched = false)
        Triangles.classesFromFingerprints(folded)
          .select(col("cls"), col("s")).distinct()
      },
      bench = Seq(
        Phase.build("q173_twinfp_stored_build")(TwinFoldPhases.buildStored),
        Phase.Self,
        // the fold in its winning regime (bounded-degree delta) vs a rebuild
        Phase("q173_bounded_fold", TwinFoldPhases.boundedFold),
        Phase("q173_bounded_rebuild", TwinFoldPhases.boundedRebuild),
        // the same delta over a 16x stored graph: fold flat, rebuild growing
        Phase.build("q173_scaledfp_build")(TwinFoldPhases.buildScaled),
        Phase("q173_scaled16_fold", TwinFoldPhases.scaledFold),
        Phase("q173_scaled16_rebuild", TwinFoldPhases.scaledRebuild),
        // core-scaling probe of the fingerprint exchange alone
        Phase("q173_scaledfp_hash", TwinFoldPhases.scaledFingerprintHash))
    ),
    Q(
      "q174_setsim_exact",
      "EXACT set-similarity self-join (prefix filtering, Bayardo/" +
        "SSJoin): every pair with token-set Jaccard >= 1/2, with exact " +
        "intersection/union sizes — the NO-FALSE-NEGATIVE counterpart " +
        "of MinHash-LSH banding for the audits where a miss is " +
        "unacceptable (licensing, contamination). Each doc's tokens " +
        "sort by ascending global df (applied within the doc — no " +
        "vocabulary-wide window); a qualifying pair's intersection " +
        "must hit each side's (n - ceil(n/2) + 1)-token prefix, so " +
        "joining rare-first prefixes against full token sets loses " +
        "nothing while hot boilerplate tokens never enter a prefix. " +
        "The threshold is the rational 1/2 tested by integer cross-" +
        "multiplication — and the oracle is a BRUTE all-pairs scan, so " +
        "a hash match IS the no-false-negative proof at fixture scale. " +
        "Gated to doc_id < 1000 (the q35 discipline): on a corpus " +
        "that is 40% one near-clique, ANY exact join is Omega(true-" +
        "pair-count) — prefix selectivity collapses when every cluster " +
        "doc shares the same rare tokens (and the fixture's token sets " +
        "are all distinct, so set-identity collapse cannot help) — so " +
        "the exact join is the bounded AUDIT tool over a subset or a " +
        "post-exact-dedup survivor stream, while q32's LSH banding " +
        "remains the unbounded bulk path.",
      Some("""
        |WITH s0 AS (
        |  SELECT doc_id,
        |         list_filter(list_distinct(string_split_regex(trim(text), '\s+')),
        |                     t -> len(t) > 0) AS ts
        |  FROM documents WHERE doc_id < 1000
        |), s AS (
        |  SELECT doc_id, ts FROM s0 WHERE len(ts) > 0
        |), pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
        |         CAST(len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS BIGINT) AS uni
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b, inter, uni,
        |       CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
        |FROM pr WHERE inter * 2 >= uni
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.SetSimilarityJoin.selfJoin(
          Tables.documents(spark, dir).filter(col("doc_id") < 1000),
          "doc_id", "text", num = 1, den = 2)
    ),
    Q(
      "q175_containment_join",
      "Directional CONTAINMENT join at t = 3/4: pairs (contained, " +
        "container) with |A n B| / |A| >= 3/4 — the quote/excerpt/" +
        "partial-scrape detector Jaccard cannot express (a 50-token " +
        "excerpt inside a 5000-token page is Jaccard ~ 0.01 but " +
        "containment ~ 1), and the token-SET complement to span-level " +
        "dedup (q110/q111), which needs contiguous order. Prefix " +
        "filter applies on the contained side only (inter >= t*|A| " +
        "forces A's rare-first prefix into B); rational threshold via " +
        "integer cross-multiplication; brute directed-scan oracle = " +
        "the no-miss proof. Same doc_id < 1000 audit gating as q174.",
      Some("""
        |WITH s0 AS (
        |  SELECT doc_id,
        |         list_filter(list_distinct(string_split_regex(trim(text), '\s+')),
        |                     t -> len(t) > 0) AS ts
        |  FROM documents WHERE doc_id < 1000
        |), s AS (
        |  SELECT doc_id, ts FROM s0 WHERE len(ts) > 0
        |)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
        |       CAST(len(a.ts) AS BIGINT) AS na,
        |       CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        |         / CAST(len(a.ts) AS DOUBLE) AS containment
        |FROM s a JOIN s b ON a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.ts, b.ts)) * 4 >= len(a.ts) * 3
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.SetSimilarityJoin.containmentJoin(
          Tables.documents(spark, dir).filter(col("doc_id") < 1000),
          "doc_id", "text", num = 3, den = 4)
    ),
    Q(
      "q176_truss_peel",
      "TRUE 3-truss canonical assignment: iterate the support cut to " +
        "its FIXED POINT (q170's table is the single cut — iteration " +
        "1), then re-component. One cut removes zero-support bridges, " +
        "but removing an edge can strip support from survivors (a " +
        "triangle dies with any of its three edges) — only re-cutting " +
        "sees that, and the fixed point is the maximal subgraph where " +
        "every edge keeps support within the subgraph ITSELF. Each " +
        "round re-collapses the survivor graph and recomputes closed-" +
        "form quotient support (Triangles.trussPeelCollapsed) — one " +
        "linear adjacency shuffle + tiny-quotient work per round, " +
        "never a triangle enumeration; the loop exits early at the " +
        "fixed point (edge count is monotone, so equal cardinality = " +
        "equal set, one driver scalar per round). The oracle unrolls " +
        "exactly PeelMaxIters + 1 support cuts (the +1 is the " +
        "idempotent cut inside trussCanonicalsCollapsed), so operator " +
        "and oracle compute the SAME prefix whether or not the graph " +
        "converges within the bound — equality needs no convergence " +
        "assumption.",
      Some(duckTrussPeelSql),
      (spark, dir) => TrianglePhases.peeledCanonicals(spark, dir),
      bench = Seq(
        // buildPeeled, not ensurePeeled: the memo would time a no-op
        Phase.build("q176_peel_build")(TrianglePhases.buildPeeled),
        Phase.Self)
    ),
    Q(
      "q178_triangle_refresh",
      "Incremental TRIANGLE-PRODUCT refresh: per-document triangle " +
        "counts for the MERGED graph (stored even graph + the q154 " +
        "bounded arrival delta) re-derived from the FOLDED adjacency " +
        "fingerprints (q173's node-sized state) instead of re-hashing " +
        "adjacency from scratch. The twin decomposition is the only " +
        "node-sized state the collapsed products need: classes regroup " +
        "from the folded fingerprint table, the quotient needs one " +
        "pruned columnar pass over the merged edge stream (no " +
        "adjacency shuffle — the rebuild's dominant cost), and the " +
        "counts are class-arithmetic on the tiny quotient. Spec-pinned " +
        "equal to a from-scratch build of the same merged graph " +
        "(TrianglePhases.rebuildMerged, the bench comparator); the " +
        "oracle floods merged-graph triangles by brute enumeration, so " +
        "the fold + collapse arithmetic is checked doc for doc.",
      Some(duckMergedTriangleSql),
      (spark, dir) => TrianglePhases.refreshedCounts(spark, dir),
      bench = Seq(
        Phase.build("q178_twinffp_fold")(TwinFoldPhases.buildFolded),
        Phase.build("q178_tri_refresh")(TrianglePhases.refresh),
        Phase.Self,
        // refresh vs rebuild at the 16x geometry, where the gap is measurable
        Phase.build("q178_scaledffp_fold")(TwinFoldPhases.buildFoldedScaled),
        Phase.build("q178_scaled16_refresh")(TrianglePhases.scaledRefresh),
        Phase.build("q178_scaled16_rebuild")(TrianglePhases.scaledRebuildMerged))
    ),
    Q(
      "q179_containment_capped",
      "q175's containment join with the STOP-GRAM CAP engaged " +
        s"(maxDocFreq = $ContainCap): tokens appearing in more than " +
        s"$ContainCap of the gated docs are removed from the " +
        "representation before anything else — consistently from " +
        "prefixes, candidate keys, and the verification sets / |A| — " +
        "so the result is EXACT containment over the filtered token " +
        "sets and per-token candidate fan-out is bounded by cap^2. " +
        "Ubiquitous tokens carry no pair-discriminating signal " +
        "(containment driven by them is boilerplate coincidence, not " +
        "excerpting), so the cap is the quality filter AND the scale " +
        "guard: on a boilerplate-heavy corpus the uncapped join " +
        "degenerates toward all-pairs (q175's standing caveat) while " +
        "this stays bounded. The oracle recomputes df, filters, and " +
        "brute-forces all directed pairs over the SAME filtered sets — " +
        "the no-miss proof for the capped semantics. Read its bench " +
        "line against q175's: same corpus, cap on vs off.",
      Some(duckContainCappedSql),
      (spark, dir) =>
        graft.operators.SetSimilarityJoin.containmentJoin(
          Tables.documents(spark, dir).filter(col("doc_id") < 1000),
          "doc_id", "text", num = 3, den = 4, maxDocFreq = Some(ContainCap))
    ),
    Q(
      "q187_cdc_chunks",
      "Content-defined chunking: documents split where the rolling " +
        "3-token window hash is 0 mod 8 (expected chunk ~8 tokens) — " +
        "the storage-dedup boundary rule (Rabin chunking as in " +
        "LBFS/restic) on token streams. Boundaries depend only on " +
        "LOCAL content, so near-copies re-synchronize at the first " +
        "shared boundary and chunk fingerprints align across an " +
        "insertion — where fixed-offset passages (q95) lose all " +
        "alignment (spec-pinned). The boundary scan is a narrow " +
        "position explode with the hash codegen'd on exploded rows; " +
        "assembly is one doc-keyed lag window over ~n/8 boundary " +
        "rows. The oracle re-renders boundaries, spans, and chunk " +
        "md5s value for value.",
      Some("""
        |WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
        |), b AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS e
        |  FROM toks, UNNEST(range(3, len(t) + 1)) AS u(i)
        |  WHERE CAST('0x' || substr(md5(array_to_string(t[i-2 : i], ' ')), 1, 8)
        |             AS BIGINT) % 8 = 0
        |), ends AS (
        |  SELECT DISTINCT doc_id, e FROM (
        |    SELECT doc_id, e FROM b
        |    UNION ALL
        |    SELECT doc_id, CAST(len(t) AS INTEGER) AS e FROM toks WHERE len(t) > 0)
        |), spans AS (
        |  SELECT doc_id,
        |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS s, e
        |  FROM ends
        |)
        |SELECT spans.doc_id,
        |       CAST(s AS BIGINT) AS chunk_start,
        |       CAST(e AS BIGINT) AS chunk_end,
        |       CAST(e - s AS BIGINT) AS n_chunk_tokens,
        |       md5(array_to_string(t[s+1 : e], ' ')) AS fp
        |FROM spans JOIN toks USING (doc_id)
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CdcChunks.chunks(
          Tables.documents(spark, dir), "doc_id", "text",
          window = 3, modulus = 8)
    ),
    Q(
      "q188_cdc_dedup",
      "Chunk-level dedup over the q187 CDC stream: a chunk is a " +
        "duplicate iff its text occurs as a chunk in >= 2 DISTINCT " +
        "documents (the min != max two-long aggregate — hot " +
        "fingerprints combine map-side, never a doc-id set per " +
        "fingerprint), rolled up to per-document duplicated token " +
        "mass. The q110 span pipeline finds the same text exactly at " +
        "stride 1; this trades sub-chunk duplicates for a shuffle " +
        "~modulus x smaller (one row per ~8-token chunk, not per " +
        "token) — the screening-scan face of substring dedup.",
      Some("""
        |WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
        |), b AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS e
        |  FROM toks, UNNEST(range(3, len(t) + 1)) AS u(i)
        |  WHERE CAST('0x' || substr(md5(array_to_string(t[i-2 : i], ' ')), 1, 8)
        |             AS BIGINT) % 8 = 0
        |), ends AS (
        |  SELECT DISTINCT doc_id, e FROM (
        |    SELECT doc_id, e FROM b
        |    UNION ALL
        |    SELECT doc_id, CAST(len(t) AS INTEGER) AS e FROM toks WHERE len(t) > 0)
        |), spans AS (
        |  SELECT doc_id,
        |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS s, e
        |  FROM ends
        |), ch AS (
        |  SELECT spans.doc_id, e - s AS n_chunk_tokens,
        |         md5(array_to_string(t[s+1 : e], ' ')) AS fp
        |  FROM spans JOIN toks USING (doc_id)
        |), dup AS (
        |  SELECT fp, 1 AS isdup FROM ch GROUP BY fp
        |  HAVING min(doc_id) <> max(doc_id)
        |)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
        |       CAST(sum(coalesce(isdup, 0)) AS BIGINT) AS n_dup_chunks,
        |       CAST(sum(CASE WHEN isdup = 1 THEN n_chunk_tokens ELSE 0 END)
        |            AS BIGINT) AS dup_tokens,
        |       CAST(sum(CASE WHEN isdup = 1 THEN n_chunk_tokens ELSE 0 END)
        |            AS DOUBLE)
        |         / CAST(sum(n_chunk_tokens) AS DOUBLE) AS dup_ratio
        |FROM ch LEFT JOIN dup USING (fp)
        |GROUP BY doc_id
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CdcChunks.dupReport(
          Tables.documents(spark, dir), "doc_id", "text",
          window = 3, modulus = 8)
    ),
    Q(
      "q189_lsh_dedup_recall",
      "Recall/precision of the production LSH operating point (16 " +
        "hashes x 2 bands — q32's constants) against EXACT word-set " +
        "Jaccard >= 1/2 truth on the bounded audit corpus: one row of " +
        "confusion counts with the two final divisions. The dedup-side " +
        "face of the tracked-recall family (LSH-ANN q121, int8 q131, " +
        "IVF q141): the banding probability 1-(1-j^8)^2 stops being an " +
        "anecdote in a docstring and becomes a regression-guarded " +
        "number. Truth is the audit-scale word-keyed self-join (the " +
        "brute-force-oracle precedent, gated doc_id < 1000); the " +
        "threshold compare is all-integer.",
      Some(
        s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), s AS (
           |  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS ts
           |  FROM documents WHERE doc_id < 1000
           |), truth AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM s a JOIN s b ON a.doc_id < b.doc_id
           |  WHERE len(list_intersect(a.ts, b.ts)) * 2
           |        >= (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) * 1
           |)
           |SELECT CAST(count(t.doc_a) AS BIGINT) AS n_truth,
           |       CAST(count(c.doc_a) AS BIGINT) AS n_candidates,
           |       CAST(count(CASE WHEN t.doc_a IS NOT NULL AND c.doc_a IS NOT NULL
           |                       THEN 1 END) AS BIGINT) AS n_hits,
           |       CAST(count(CASE WHEN t.doc_a IS NOT NULL AND c.doc_a IS NOT NULL
           |                       THEN 1 END) AS DOUBLE)
           |         / CAST(count(t.doc_a) AS DOUBLE) AS recall,
           |       CAST(count(CASE WHEN t.doc_a IS NOT NULL AND c.doc_a IS NOT NULL
           |                       THEN 1 END) AS DOUBLE)
           |         / CAST(count(c.doc_a) AS DOUBLE) AS precision
           |FROM truth t FULL OUTER JOIN cand c
           |  ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b""".stripMargin),
      (spark, dir) =>
        graft.operators.Dedup.lshRecallReport(
          Tables.documents(spark, dir).filter(col("doc_id") < 1000),
          "doc_id", "text", numHashes = NumHashes, bands = 2,
          num = 1, den = 2)
    ),
    Q(
      "q190_cdc_ingest",
      "The CDC family's ingest probe (the q126/q144 parity discipline): " +
        "each ARRIVING document's chunks (odd ids) checked against the " +
        "EXISTING corpus's chunk-fingerprint set (even ids) — how much " +
        "of this batch is already in the corpus, at batch-proportional " +
        "probe cost. The arrival side chunks fresh (delta-sized); the " +
        "existing side contributes one distinct 32-char fingerprint per " +
        "chunk into a hash equi-join. At steady state the existing " +
        "fingerprints persist bucketed (the q79/q156 build/probe " +
        "discipline); recomputing here keeps the oracle self-contained.",
      Some(duckCdcIngestSql),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        graft.operators.CdcChunks.ingestReport(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", window = 3, modulus = 8)
      }
    ),
    Q(
      "q194_source_containment",
      "Directed source-containment matrix over CDC chunks: per ordered " +
        "source pair, the fraction of a's DISTINCT chunk token mass " +
        "also present in b — the directed question q106's symmetric " +
        "minhash overlap cannot answer (a small source wholly copied " +
        "from a big one reads ~1 one way, ~0 the other). Chunks dedup " +
        "to (source, fp) FIRST, so the pair join's fan-out is bounded " +
        "by sources-per-chunk, never document counts — the q123 " +
        "template: aggregate to per-group structure, then do the " +
        "quadratic-prone work on the bounded table.",
      Some(
        s"""WITH ${duckCdcCte("c", "TRUE")},
           |s AS (
           |  SELECT DISTINCT d.source, ch.fp, ch.n_chunk_tokens
           |  FROM c_ch ch JOIN documents d USING (doc_id)
           |), t AS (
           |  SELECT source, CAST(sum(n_chunk_tokens) AS BIGINT) AS total_mass
           |  FROM s GROUP BY 1
           |), p AS (
           |  SELECT a.source AS source_a, b.source AS source_b,
           |         CAST(sum(a.n_chunk_tokens) AS BIGINT) AS shared_mass
           |  FROM s a JOIN s b ON a.fp = b.fp AND a.source <> b.source
           |  GROUP BY 1, 2
           |)
           |SELECT source_a, source_b, shared_mass, total_mass,
           |       CAST(shared_mass AS DOUBLE) / CAST(total_mass AS DOUBLE)
           |         AS containment
           |FROM p JOIN t ON t.source = p.source_a""".stripMargin),
      (spark, dir) =>
        graft.operators.CdcChunks.sourceContainment(
          Tables.documents(spark, dir), "doc_id", "text", "source",
          window = 3, modulus = 8)
    ),
    Q(
      "q198_cdc_stored_probe",
      "q190's probe against the PERSISTED chunk-fingerprint index — " +
        "the serving face of the CDC family (build/probe/fold, the " +
        "q79/q156 discipline): the even slice's distinct fingerprints " +
        "are written ONCE as an fp-bucketed table; each arrival batch " +
        "probes it at delta cost. The membership test is a LEFT-SEMI " +
        "join, so at-least-once appended batches (duplicate stored " +
        "rows) can never duplicate arrival rows — the stored table is " +
        "replay-TOLERANT without a dedup pass (where q190's left-join " +
        "form needs its build side distinct). Same semantics as q190 " +
        "by design; the oracle is literally the same SQL body.",
      Some(duckCdcIngestSql),
      (spark, dir) => CdcPhases.probe(spark, dir),
      bench = Seq(
        Phase.build("cdcfp_build")(CdcPhases.buildStored),
        Phase.Self)
    ),
    Q(
      "q219_minhash_error_audit",
      "MinHash estimation-error audit — the q121/q212 discipline " +
        "applied to the minhash family itself: over the id-gated " +
        s"slice (doc_id < ${graft.operators.Dedup.JaccardAuditMaxId}" +
        ", mandatory — the exact side is all-pairs), every pair's " +
        "matching-permutation fraction (the q31 signatures' Jaccard " +
        "estimate) against the EXACT distinct-word Jaccard: n_match/" +
        "inter/uni exact integers, jac_est = n_match/16 (exact — " +
        "power-of-two divisor), jac_true one quotient, abs_err one " +
        "subtract. Zero-overlap pairs stay in: hash-collision " +
        "OVER-estimates are precisely what the audit must see. A " +
        "drift in abs_err is the recalibrate-numHashes signal, the " +
        "way q212/q215 guard nlist/tau.",
      Some(duckMinhashAuditSql),
      (spark, dir) =>
        Dedup.minhashJaccardAudit(
          Tables.documents(spark, dir), "text", "doc_id", NumHashes)
    ),
    Q(
      "q220_dedup_canonical",
      "Canonical-text dedup — the fuzzy-exact tier between q30's raw " +
        "hash and q31's MinHash: sha256 of the case-folded, " +
        "punctuation-stripped, whitespace-collapsed text, so " +
        "reformatting / smart quotes / case drift / spacing churn (the " +
        "common mirror-site mutations) land on ONE key while any word " +
        "change still splits it. n_raw_distinct counts the distinct " +
        "RAW hashes per canonical group — rows with n_raw_distinct > 1 " +
        "are exactly the dups the raw pass missed, the tier's measured " +
        "catch. One digest shuffle (map-side combined), bodies never " +
        "move; the distinct-count is two-phase on the same key.",
      Some(
        """|SELECT sha256(trim(regexp_replace(regexp_replace(lower(text),
           |         '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS canon_sha,
           |       MIN(doc_id) AS keep_id,
           |       COUNT(*) AS n_copies,
           |       CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_raw_distinct
           |FROM documents GROUP BY 1""".stripMargin),
      (spark, dir) =>
        Dedup.canonicalGroups(Tables.documents(spark, dir), "text", "doc_id")
    ),
    Q(
      "q223_lsh_bucket_histogram",
      "LSH bucket-size histogram — the pre-flight SKEW profile of the " +
        "q32 banding join: per band, how many buckets hold 1, 2, ... " +
        "members. The banding join's candidate-pair cost is " +
        "sum(size^2) over this table and its hottest bucket is the AQE " +
        "skew-join case, so this is the number that says whether the " +
        "banding width fits the corpus BEFORE the pair stage runs (a " +
        "boilerplate-heavy crawl shows a fat tail here first — the " +
        "capacity-planning read the q135 degree histogram gives per " +
        "DOC, taken per BUCKET). Histogram over key-equality classes, " +
        "so the struct-key Spark side and the md5-key oracle agree by " +
        "construction. Two map-side-combined shuffles, both on " +
        "narrow keys; bodies never move.",
      Some(
        s"""$duckSignatureCte, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), bs AS (
           |  SELECT band, key, CAST(COUNT(*) AS BIGINT) AS bucket_size
           |  FROM bands GROUP BY 1, 2
           |)
           |SELECT band, bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets
           |FROM bs GROUP BY 1, 2""".stripMargin),
      (spark, dir) => {
        val sig = Dedup.minhashSignatures(
          Tables.documents(spark, dir), "text", "doc_id", NumHashes)
        Dedup.bandKeys(sig, "doc_id", NumHashes, bands = 2)
          .groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("bucket_size"))
          .groupBy(col("band"), col("bucket_size"))
          .agg(count(lit(1)).as("n_buckets"))
      }
    ),
    Q(
      "q224_lsh_scurve",
      "EMPIRICAL LSH S-curve — the banding knob's tuning artifact, " +
        "measured instead of assumed: over the q219 gated slice, every " +
        "pair's candidacy under the q32 banding (shares >= 1 band key) " +
        "rolled up by EXACT-Jaccard bucket, jac_bucket = (inter*10) " +
        "div uni — an integer boundary, no float flap. The theoretical " +
        "curve 1-(1-s^r)^b says WHERE detection should rise; this " +
        "table says where it ACTUALLY rises on this corpus with these " +
        "hash constants — the number that justifies (bands, rows) " +
        "before a 100 TB pair stage commits to them, and the " +
        "regression guard that catches a hash/banding change shifting " +
        "recall (hit_rate at high-jaccard buckets is the recall the " +
        "q32 production path silently relies on). Gated all-pairs + " +
        "broadcast, the q219 audit-face discipline.",
      Some(duckLshScurveSql),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val slice = docs.filter(
          col("doc_id") < graft.operators.Dedup.JaccardAuditMaxId)
        val sig = Dedup.minhashSignatures(slice, "text", "doc_id", NumHashes)
        val cand = Dedup.lshCandidatePairs(sig, "doc_id", NumHashes, bands = 2)
          .select(col("doc_a"), col("doc_b"), lit(1L).as("__is_cand"))
        Dedup.minhashJaccardAudit(docs, "text", "doc_id", NumHashes)
          .join(cand, Seq("doc_a", "doc_b"), "left")
          .withColumn("__is_cand", coalesce(col("__is_cand"), lit(0L)))
          .withColumn("jac_bucket", expr("(inter * 10) div uni"))
          .groupBy(col("jac_bucket"))
          .agg(
            count(lit(1)).as("n_pairs"),
            sum(col("__is_cand")).as("n_candidates"))
          .withColumn("hit_rate",
            col("n_candidates").cast("double") / col("n_pairs").cast("double"))
      }
    ),
    Q(
      "q226_lsh_star_capped",
      "Hot-bucket STAR-COLLAPSE pair former — the q32 banding join " +
        "with its quadratic failure mode removed for the clustering " +
        "consumer: a band bucket over the cap (here " + StarCap +
        " on the gated slice; the fixture's near-clique bucket holds " +
        "171 members at sf0.01 — exactly the q223 fat tail) emits " +
        "B-1 (hub=min-id, member) STAR edges instead of B(B-1)/2 " +
        "pairs, while every under-cap bucket pairs exactly as q32 " +
        "does. Within a bucket the star spans the same vertex set, so " +
        "downstream connectivity is EXACTLY preserved (q227 proves it " +
        "cross-engine); what is given up is pairwise evidence inside " +
        "hot buckets — shared_bands counts surviving evidence rows, " +
        "and non-hub member pairs of a hot bucket do not appear. " +
        "Shape: the bucket profile is the q223 aggregate reused (one " +
        "map-side-combined shuffle), the over-cap set is tiny by " +
        "construction so the cold screen and hub attach are both " +
        "broadcast joins, and the band self-join's largest bucket is " +
        "bounded by the cap — at 100 TB this is the difference " +
        "between a pair stage bounded by cap^2 per bucket and one " +
        "that dies on a million-member boilerplate bucket.",
      Some(
        s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), bs AS (
           |  SELECT band, key, CAST(COUNT(*) AS BIGINT) AS sz, MIN(doc_id) AS hub
           |  FROM bands GROUP BY 1, 2
           |), hot AS (
           |  SELECT band, key, hub FROM bs WHERE sz > $StarCap
           |), cold AS (
           |  SELECT b.doc_id, b.band, b.key
           |  FROM bands b LEFT JOIN hot h ON b.band = h.band AND b.key = h.key
           |  WHERE h.key IS NULL
           |), ev AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM cold a JOIN cold b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |  UNION ALL
           |  SELECT h.hub AS doc_a, b.doc_id AS doc_b
           |  FROM bands b JOIN hot h ON b.band = h.band AND b.key = h.key
           |  WHERE b.doc_id <> h.hub
           |)
           |SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS shared_bands
           |FROM ev GROUP BY 1, 2""".stripMargin),
      (spark, dir) => {
        val sig = Dedup.minhashSignatures(
          Tables.documents(spark, dir).filter(col("doc_id") < 1000),
          "text", "doc_id", NumHashes)
        Dedup.lshCandidatePairsStarCapped(
          sig, "doc_id", NumHashes, bands = 2, maxBucket = StarCap)
      },
      bench = Seq(
        // the full-corpus mine, star-collapsed vs uncapped (production geometry)
        Phase.build("q226_sig_mine_full")(buildFullSignatures),
        Phase("q226_star_mine_full", starFullMine),
        Phase("q226_uncapped_mine_full", uncappedFullMine),
        Phase.Self)
    ),
    Q(
      "q227_star_components",
      "The star-collapse EXACTNESS proof, cross-engine: connected " +
        "components over q226's CAPPED edge set, hash-checked against " +
        "an oracle that floods the UNCAPPED q32 candidate graph (the " +
        "q36 flooding text verbatim). A hub connects every member of " +
        "its over-cap bucket, so the capped graph spans the same " +
        "vertices with the same connectivity — components equal for " +
        "EVERY input, not just this fixture (StarCapSpec pins the " +
        "property in-engine at an adversarial cap) — while the edge " +
        "stream into the components loop shrinks from clique-quadratic " +
        "to member-linear on every hot bucket. This is the pair the " +
        "canonical-dedup path (q36/q37) runs at 100 TB: same cluster " +
        "map, pair stage bounded.",
      Some(
        s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs
           |), labels AS (
           |  WITH RECURSIVE reach(id, lab) AS (
           |    SELECT DISTINCT src, src FROM edges
           |    UNION
           |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
           |  )
           |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
           |)
           |SELECT id AS doc_id, comp FROM labels""".stripMargin),
      (spark, dir) => {
        val sig = Dedup.minhashSignatures(
          Tables.documents(spark, dir).filter(col("doc_id") < 1000),
          "text", "doc_id", NumHashes)
        val capped = Dedup.lshCandidatePairsStarCapped(
          sig, "doc_id", NumHashes, bands = 2, maxBucket = StarCap)
        Components.connectedComponents(
            capped, numPartitions = Some(8))
          .select(col("id").as("doc_id"), col("comp"))
      }
    ),
    Q(
      "q229_star_canonical",
      "The star collapse's END CONSUMER: q37's canonical dedup (drop " +
        "every non-min-label cluster member, singletons survive) fed " +
        "by the CAPPED pair former — and q37's oracle text VERBATIM, " +
        "which floods the uncapped graph. The family's exactness claim " +
        "lands where it pays: the surviving document set at 100 TB is " +
        "IDENTICAL whether the pair stage shipped hot-bucket cliques " +
        "or stars, so the cap is free for the canonical path — pairs " +
        "(q226) -> components (q227) -> keep set (here), each leg " +
        "hash-checked against the uncapped rendering cross-engine.",
      Some(
        s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
           |  SELECT doc_id, 0 AS band,
           |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |  UNION ALL
           |  SELECT doc_id, 1 AS band,
           |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
           |  FROM sig
           |), prs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
           |), edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM prs
           |  UNION SELECT doc_b, doc_a FROM prs
           |), labels AS (
           |  WITH RECURSIVE reach(id, lab) AS (
           |    SELECT DISTINCT src, src FROM edges
           |    UNION
           |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
           |  )
           |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
           |)
           |SELECT doc_id, n_chars FROM documents
           |WHERE doc_id < 1000
           |  AND doc_id NOT IN (SELECT id FROM labels WHERE id != comp)""".stripMargin),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir).filter(col("doc_id") < 1000)
        val sig = Dedup.minhashSignatures(docs, "text", "doc_id", NumHashes)
        val capped = Dedup.lshCandidatePairsStarCapped(
          sig, "doc_id", NumHashes, bands = 2, maxBucket = StarCap)
        val losers = Components.connectedComponents(
            capped, numPartitions = Some(8))
          .filter(col("id") =!= col("comp")).select(col("id"))
        docs.join(losers, docs("doc_id") === losers("id"), "left_anti")
          .select("doc_id", "n_chars")
      }
    )
  )

  /** The gated signature/word-set CTE prefix shared by the q219 error
    * audit and the q224 empirical S-curve: wh (gated distinct-word
    * hashes, word carried), sig (q31's minhash aggs), cnt (distinct
    * word counts), itr (exact pairwise intersections).
    */
  private lazy val duckGatedMinhashCtes: String = {
    val maxId = graft.operators.Dedup.JaccardAuditMaxId
    s"""WITH wh AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h, w
       |  FROM (SELECT doc_id,
       |               unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS w
       |        FROM documents WHERE doc_id < $maxId)
       |), sig AS (
       |  SELECT doc_id,
       |       $duckMinhashAggs
       |  FROM wh GROUP BY doc_id
       |), cnt AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_w FROM wh GROUP BY doc_id
       |), itr AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(COUNT(*) AS BIGINT) AS inter
       |  FROM wh a JOIN wh b ON a.w = b.w AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  /** q219's oracle: the q31 signature chain over the gated slice (word
    * column carried so the exact side shares the hash universe), the
    * per-slot match count, and the exact distinct-word Jaccard.
    */
  private lazy val duckMinhashAuditSql: String = {
    val matches = (0 until NumHashes)
      .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""$duckGatedMinhashCtes, p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST($matches AS BIGINT) AS n_match
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b, n_match, inter, uni,
       |       CAST(n_match AS DOUBLE) / $NumHashes AS jac_est,
       |       CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jac_true,
       |       abs(CAST(n_match AS DOUBLE) / $NumHashes
       |           - CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE)) AS abs_err
       |FROM (
       |  SELECT p.doc_a, p.doc_b, p.n_match,
       |         CAST(COALESCE(itr.inter, 0) AS BIGINT) AS inter,
       |         CAST(ca.n_w + cb.n_w - COALESCE(itr.inter, 0) AS BIGINT) AS uni
       |  FROM p
       |  JOIN cnt ca ON ca.doc_id = p.doc_a
       |  JOIN cnt cb ON cb.doc_id = p.doc_b
       |  LEFT JOIN itr ON itr.ia = p.doc_a AND itr.ib = p.doc_b)""".stripMargin
  }

  /** q224's oracle: the shared gated prefix, q32's banding over the
    * gated sig, pair candidacy as a left join, exact-Jaccard buckets
    * by integer division.
    */
  private lazy val duckLshScurveSql: String =
    s"""$duckGatedMinhashCtes, bands AS (
       |  SELECT doc_id, 0 AS band,
       |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band,
       |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
       |  FROM sig
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), j AS (
       |  SELECT p.doc_a, p.doc_b,
       |         CAST(COALESCE(itr.inter, 0) AS BIGINT) AS inter,
       |         CAST(ca.n_w + cb.n_w - COALESCE(itr.inter, 0) AS BIGINT) AS uni,
       |         CASE WHEN cand.doc_a IS NULL THEN 0 ELSE 1 END AS is_cand
       |  FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |        FROM sig a JOIN sig b ON a.doc_id < b.doc_id) p
       |  JOIN cnt ca ON ca.doc_id = p.doc_a
       |  JOIN cnt cb ON cb.doc_id = p.doc_b
       |  LEFT JOIN itr ON itr.ia = p.doc_a AND itr.ib = p.doc_b
       |  LEFT JOIN cand ON cand.doc_a = p.doc_a AND cand.doc_b = p.doc_b
       |)
       |SELECT (inter * 10) // uni AS jac_bucket,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
       |       CAST(SUM(is_cand) AS DOUBLE) / COUNT(*) AS hit_rate
       |FROM j GROUP BY 1""".stripMargin

  /** The shared q190/q198 oracle: the stored-index probe's semantics
    * are BY DESIGN identical to the self-contained ingest report (the
    * stored table holds exactly the even slice's distinct chunk
    * fingerprints), so one SQL body serves both and the pair cannot
    * drift.
    */
  private def duckCdcIngestSql: String =
    s"""WITH ${duckCdcCte("ex", "doc_id % 2 = 0")},
       |${duckCdcCte("ar", "doc_id % 2 = 1")},
       |exfp AS (
       |  SELECT DISTINCT fp, 1 AS hit FROM ex_ch
       |)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_chunks,
       |       CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
       |       CAST(sum(coalesce(hit, 0)) AS BIGINT) AS n_dup_chunks,
       |       CAST(sum(CASE WHEN hit = 1 THEN n_chunk_tokens ELSE 0 END)
       |            AS BIGINT) AS dup_tokens,
       |       CAST(sum(CASE WHEN hit = 1 THEN n_chunk_tokens ELSE 0 END)
       |            AS DOUBLE)
       |         / CAST(sum(n_chunk_tokens) AS DOUBLE) AS dup_ratio
       |FROM ar_ch LEFT JOIN exfp USING (fp)
       |GROUP BY doc_id""".stripMargin

  /** The q187/q188 CDC chunk pipeline as a prefixed CTE chain, rendered
    * per corpus slice so the q190 ingest oracle chunks existing and
    * arriving docs independently with the same constants (window 3,
    * modulus 8). Exposes `<alias>_ch(doc_id, n_chunk_tokens, fp)`.
    */
  private def duckCdcCte(alias: String, wherePred: String): String =
    s"""${alias}_toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents WHERE $wherePred
       |), ${alias}_b AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS e
       |  FROM ${alias}_toks, UNNEST(range(3, len(t) + 1)) AS u(i)
       |  WHERE CAST('0x' || substr(md5(array_to_string(t[i-2 : i], ' ')), 1, 8)
       |             AS BIGINT) % 8 = 0
       |), ${alias}_ends AS (
       |  SELECT DISTINCT doc_id, e FROM (
       |    SELECT doc_id, e FROM ${alias}_b
       |    UNION ALL
       |    SELECT doc_id, CAST(len(t) AS INTEGER) AS e
       |    FROM ${alias}_toks WHERE len(t) > 0)
       |), ${alias}_spans AS (
       |  SELECT doc_id,
       |         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS s, e
       |  FROM ${alias}_ends
       |), ${alias}_ch AS (
       |  SELECT sp.doc_id, e - s AS n_chunk_tokens,
       |         md5(array_to_string(t[s+1 : e], ' ')) AS fp
       |  FROM ${alias}_spans sp JOIN ${alias}_toks USING (doc_id)
       |)""".stripMargin

  /** q179 oracle: recompute df over the gated corpus, drop tokens with
    * df > cap, then the q175 brute directed scan over the filtered
    * sets (docs whose whole set was boilerplate vanish — len(ts) > 0
    * after the filter).
    */
  private def duckContainCappedSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(
       |           list_distinct(string_split_regex(trim(text), '\\s+')),
       |           t -> len(t) > 0)) AS tok
       |  FROM documents WHERE doc_id < 1000
       |), dfq AS (
       |  SELECT tok, count(*) AS df FROM tok GROUP BY 1
       |), keep AS (
       |  SELECT t.doc_id, t.tok FROM tok t JOIN dfq USING (tok)
       |  WHERE dfq.df <= $ContainCap
       |), s AS (
       |  SELECT doc_id, list(tok) AS ts FROM keep GROUP BY 1
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
       |       CAST(len(a.ts) AS BIGINT) AS na,
       |       CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
       |         / CAST(len(a.ts) AS DOUBLE) AS containment
       |FROM s a JOIN s b ON a.doc_id <> b.doc_id
       |WHERE len(list_intersect(a.ts, b.ts)) * 4 >= len(a.ts) * 3""".stripMargin

  /** The 2-band LSH pair-mining CTE tail shared by the triangle-family
    * oracles (assumes `sig` from [[duckSignatureCte]] is in scope).
    */
  private def duckBandsCte: String =
    s"""bands AS (
       |  SELECT doc_id, 0 AS band,
       |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band,
       |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
       |  FROM sig
       |)""".stripMargin

  /** q176 oracle: the banded pair graph, PeelMaxIters + 1 unrolled
    * support cuts, then recursive component flooding over the final
    * survivor set. Generated from [[TrianglePhases.PeelMaxIters]] so
    * the unroll depth cannot drift from the operator's bound.
    *
    * Every peel-level CTE is AS MATERIALIZED: DuckDB inlines a CTE per
    * reference, and with each p_k referenced 4 times by level k+1 the
    * unrolled chain would expand ~4^depth scans of the base table —
    * measured to exhaust even a 20k file-handle limit at sf0.001.
    * Materialization pins each level to one evaluation.
    */
  private def duckTrussPeelSql: String = {
    val cuts = (1 to TrianglePhases.PeelMaxIters + 1).map { k =>
      s"""tri$k AS MATERIALIZED (
         |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         |  FROM p${k - 1} e1
         |  JOIN p${k - 1} e2 ON e1.doc_b = e2.doc_a
         |  JOIN p${k - 1} e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
         |), sup$k AS (
         |  SELECT ea, eb FROM (
         |    SELECT a AS ea, b AS eb FROM tri$k
         |    UNION ALL SELECT a, c FROM tri$k
         |    UNION ALL SELECT b, c FROM tri$k)
         |  GROUP BY 1, 2 HAVING count(*) >= 1
         |), p$k AS MATERIALIZED (
         |  SELECT p.doc_a, p.doc_b
         |  FROM p${k - 1} p JOIN sup$k s ON s.ea = p.doc_a AND s.eb = p.doc_b
         |)""".stripMargin
    }.mkString(",\n")
    val last = s"p${TrianglePhases.PeelMaxIters + 1}"
    s"""$duckSignatureCte, $duckBandsCte, p0 AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |),
       |$cuts, edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM $last
       |  UNION SELECT doc_b, doc_a FROM $last
       |), labels AS (
       |  WITH RECURSIVE reach(id, lab) AS (
       |    SELECT DISTINCT src, src FROM edges
       |    UNION
       |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
       |  )
       |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
       |)
       |SELECT id AS doc_id, comp AS canonical_id FROM labels""".stripMargin
  }

  /** q178 oracle: brute triangle enumeration over the MERGED pair
    * graph — the q167 oracle with membership restricted to the merged
    * corpus (even ids ∪ the 1-mod-50 arrival slice), the same clause
    * [[TwinFoldPhases.mergedPairs]] realizes as even ∪ delta.
    */
  private def duckMergedTriangleSql: String =
    s"""$duckSignatureCte, $duckBandsCte, pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  WHERE (a.doc_id % 2 = 0 OR a.doc_id % 50 = 1)
       |    AND (b.doc_id % 2 = 0 OR b.doc_id % 50 = 1)
       |), tri AS (
       |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |  FROM pairs e1
       |  JOIN pairs e2 ON e1.doc_b = e2.doc_a
       |  JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
       |), m AS (
       |  SELECT a AS doc_id FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri
       |)
       |SELECT doc_id, count(*) AS n_triangles FROM m GROUP BY 1""".stripMargin

  /** Shared q142/q143 oracle prefix: the doc_id < 1000 pair graph
    * (mirroring the DupGraphPhases build restricted to the sub-corpus),
    * its connected-component labels, 5 unrolled BIGINT fixed-point
    * PageRank rounds (generated from the same constants as
    * [[graft.operators.PageRank]]), and the per-component rank-canonical
    * pick (`can`: top rank, tiebreak min id).
    */
  private def duckGraphCanonicalCte: String = {
    val iters = (1 to 5).map { k =>
      s"""c$k AS (
         |  SELECT r.id, r.rank // d.outdeg AS c
         |  FROM r${k - 1} r JOIN deg d ON d.src = r.id
         |), s$k AS (
         |  SELECT e.dst AS id, CAST(SUM(c.c) AS BIGINT) AS s
         |  FROM edges e JOIN c$k c ON c.id = e.src GROUP BY 1
         |), r$k AS (
         |  SELECT r.id,
         |         ((15 * (1000000000000 // (SELECT n_total FROM n))) // 100)
         |           + (85 * COALESCE(s.s, 0)) // 100 AS rank
         |  FROM r${k - 1} r LEFT JOIN s$k s ON s.id = r.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""${duckSignatureCte.replace("FROM documents", "FROM documents WHERE doc_id < 1000")}, bands AS (
       |  SELECT doc_id, 0 AS band,
       |         md5(concat_ws('_', ${(0 until 8).map(r => s"mh$r").mkString(", ")})) AS key
       |  FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band,
       |         md5(concat_ws('_', ${(8 until 16).map(r => s"mh$r").mkString(", ")})) AS key
       |  FROM sig
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs
       |), labels AS (
       |  WITH RECURSIVE reach(id, lab) AS (
       |    SELECT DISTINCT src, src FROM edges
       |    UNION
       |    SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
       |  )
       |  SELECT id, MIN(lab) AS comp FROM reach GROUP BY id
       |), deg AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1
       |), n AS (
       |  SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_total FROM edges
       |), r0 AS (
       |  SELECT src AS id, 1000000000000 // (SELECT n_total FROM n) AS rank
       |  FROM (SELECT DISTINCT src FROM edges)
       |),
       |$iters, can AS (
       |  SELECT l.comp, r.id AS canonical_id
       |  FROM labels l JOIN r5 r ON r.id = l.id
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY l.comp ORDER BY r.rank DESC, r.id) = 1
       |)""".stripMargin
  }

  /** Shared q110/q111 oracle prefix: toks -> stride-1 windows -> cross-doc
    * duplicated fingerprints -> gaps-and-islands merged spans (`sp`).
    * Mirrors [[graft.operators.SpanDedup]] constant for constant.
    */
  private def duckSpanSql(w: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents
       |), w AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS widx,
       |         md5(array_to_string(t[i+1 : i+$w], ' ')) AS fp
       |  FROM toks, UNNEST(range(0, len(t) - $w + 1)) AS u(i)
       |), dup AS (
       |  SELECT fp FROM w GROUP BY 1 HAVING min(doc_id) <> max(doc_id)
       |), h AS (
       |  SELECT doc_id, widx FROM w WHERE fp IN (SELECT fp FROM dup)
       |), isl AS (
       |  SELECT doc_id, widx,
       |         CASE WHEN max(widx + $w) OVER (PARTITION BY doc_id ORDER BY widx
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |              OR widx > max(widx + $w) OVER (PARTITION BY doc_id ORDER BY widx
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |              THEN 1 ELSE 0 END AS ni
       |  FROM h
       |), sp AS (
       |  SELECT doc_id, CAST(min(widx) AS BIGINT) AS span_start,
       |         CAST(max(widx) + $w AS BIGINT) AS span_end,
       |         count(*) AS n_windows
       |  FROM (SELECT doc_id, widx, ni,
       |               sum(ni) OVER (PARTITION BY doc_id ORDER BY widx) AS island
       |        FROM isl)
       |  GROUP BY doc_id, island
       |)""".stripMargin
}

/** Materialized near-dup pair graph: build ONCE, probe many times — the
  * [[graft.operators.IvfIndex]] build/probe discipline applied to the
  * dedup-graph family. Eight registry queries (q32, q36, q37, q102,
  * q106, q135, q138, q142/q143) consume the SAME MinHash-LSH candidate
  * pair set; re-mining signatures and re-running the band join per
  * query makes the signature mine the dominant repeated cost at 100 TB.
  * [[build]] pays it once: signatures (with the source label carried),
  * band join, deduped pair set written BUCKETED + SORTED BY doc_a —
  * every probe reads the pair stream without re-shuffling it, and
  * doc_a-keyed aggregations run exchange-free (DupGraphSpec pins both).
  *
  * The build runs once per input dir per session catalog (the first
  * consumer to run triggers it; Verify's other seven probe the table);
  * Bench times the build as its own `dupgraph_build` line so per-query
  * numbers reflect what a repeat query actually costs.
  */
object DupGraphPhases {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Signature/banding geometry shared by the build, the per-query
    * oracle SQL generators above, and the streaming twins — one
    * constant so the two sides cannot drift.
    */
  val NumHashes = 16
  val Bands = 2

  def pairTable(dir: String): String = s"graft_dupgraph_${Q.scratchTag(dir)}"

  /** Force (re)build: one signature mine over the full corpus (source
    * carried on the groupBy keys — constant per doc, no extra shuffle),
    * one band join, the deduped (doc_a, doc_b, shared_bands, source_a,
    * source_b) pair set materialized bucketed by doc_a. Idempotent.
    */
  def build(spark: SparkSession, dir: String): Unit = synchronized {
    val docs = graft.Tables.documents(spark, dir)
    // Eagerly materialize the signature frame ONCE before the band
    // self-join: both join sides are the same signature subtree, and
    // when AQE picks a broadcast join (no exchange on the probe side)
    // there is nothing for exchange reuse to latch onto — the full
    // signature mine (corpus scan + word explode + 16-way min
    // aggregation) executes TWICE. Measured at sf0.1: pairs count
    // 6.4 s -> 2.9 s, dupgraph_build 8.6 s -> 5.0 s first-run. The
    // checkpoint is signature-sized (k longs + carries per doc — the
    // thing this operator exists to shrink to), released right after
    // the pair table lands.
    val sig = graft.operators.Dedup.minhashSignatures(
      docs, "text", "doc_id", NumHashes, carry = Seq("source"))
      .localCheckpoint(true)
    try {
      val prs = graft.operators.Dedup.lshCandidatePairs(
        sig, "doc_id", NumHashes, bands = Bands, carry = Seq("source"))
      graft.operators.Bucketing.writeBucketed(prs, pairTable(dir), "doc_a", 16)
    } finally graft.operators.Checkpoints.release(sig)
  }

  def ensureBuilt(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, pairTable(dir))(build(spark, dir))
  }

  /** The built pair graph — (doc_a, doc_b, shared_bands, source_a,
    * source_b), one row per candidate pair, doc_a < doc_b.
    */
  def pairs(spark: SparkSession, dir: String): DataFrame = {
    ensureBuilt(spark, dir)
    spark.table(pairTable(dir))
  }

  /** Pairs restricted to the sub-corpus doc_id < maxId on BOTH
    * endpoints. Identical to mining the filtered corpus directly:
    * signatures and band keys are per-document (independent of every
    * other doc), so a pair of sub-corpus docs shares exactly the same
    * bands either way — DupGraphSpec pins the equality.
    */
  def pairsUnder(spark: SparkSession, dir: String, maxId: Long): DataFrame =
    pairs(spark, dir).filter(col("doc_a") < maxId && col("doc_b") < maxId)

  /** The graph-algorithm consumers' shared sub-corpus bound (oracle
    * tractability: the recursive-CTE flooding and unrolled PageRank
    * rounds run on doc_id < 1000 in DuckDB).
    */
  val DerivedMaxId = 1000L

  def compTable(dir: String): String = s"graft_dupcomp_${Q.scratchTag(dir)}"
  def rankTable(dir: String): String = s"graft_duprank_${Q.scratchTag(dir)}"
  def evenBaseTable(dir: String): String = s"graft_dupebase_${Q.scratchTag(dir)}"
  def evenRankTable(dir: String): String = s"graft_duperank_${Q.scratchTag(dir)}"
  def evenCanonicalTable(dir: String): String =
    s"graft_dupecan_${Q.scratchTag(dir)}"

  /** SECOND amortization layer: the iterative graph algorithms. The pair
    * MINE is per-corpus ([[build]]); connected components and the
    * fixed-point PageRank are per-CURATION-RUN — yet q36, q37, q138,
    * q142 and q143 would otherwise re-iterate them per report (4x
    * components + 3x PageRank over the identical pair set). This runs
    * each ONCE off the built pair table and materializes (id, comp) and
    * (id, rank), BUCKETED BY id with one bucket count, so the q142/q143
    * comp-join-rank probe needs no exchange on id and every report is a
    * table read. Both algorithms are exactly deterministic (min-label /
    * integer fixed point), so the derived tables equal the inline runs
    * row for row (DupGraphSpec pins it).
    */
  def buildDerived(spark: SparkSession, dir: String): Unit = synchronized {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // The pair table is forced to exist BEFORE forking (pairsUnder calls
    // ensureBuilt) so the four derived builds below share one finished
    // input and depend on nothing else — they are independent job chains
    // and run CONCURRENTLY from driver threads (standard Spark
    // multi-job submission; each product's algorithm is deterministic,
    // so concurrency cannot change any table's content). On a
    // 1000-executor cluster this is the difference between the curation
    // run's critical path being sum-of-builds and max-of-builds; on
    // local[32] it overlaps each build's fixed per-job overhead.
    val prs = pairsUnder(spark, dir, DerivedMaxId).select("doc_a", "doc_b")
    val edges = prs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(prs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // "Yesterday's corpus" slice of the SAME sub-graph (even ids, the
    // q126 convention): the base the incremental maintainers (q145,
    // q149, q150) fold arrivals into. Materialized per curation run
    // exactly like comp/rks — inline recompute made q145's bench line
    // ~90% base-map construction instead of the delta-cost step it
    // demonstrates.
    val evenPairs =
      prs.filter(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0)
    val evenEdges = evenPairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        evenPairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val builds: Seq[() => Unit] = Seq(
      () => {
        val comp = graft.operators.Components
          .connectedComponents(prs, numPartitions = Some(8))
        graft.operators.Bucketing.writeBucketed(comp, compTable(dir), "id", 4)
        // The table is on disk — free the final checkpoint's blocks NOW
        // so the build leaves nothing pinned in the block manager for
        // later, unrelated queries to pay for (round-10 q13 regression).
        graft.operators.Checkpoints.release(comp)
      },
      () => {
        val rks = graft.operators.PageRank
          .ranks(edges, iterations = 5, numPartitions = Some(8))
        graft.operators.Bucketing.writeBucketed(rks, rankTable(dir), "id", 4)
        graft.operators.Checkpoints.release(rks)
      },
      () => {
        val evenComp = graft.operators.Components
          .connectedComponents(evenPairs, numPartitions = Some(8))
        val evenTotal = graft.Tables.documents(spark, dir)
          .filter(col("doc_id") < DerivedMaxId && col("doc_id") % 2 === 0)
          .select(col("doc_id").as("id"))
          .join(evenComp, Seq("id"), "left")
          .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
        graft.operators.Bucketing.writeBucketed(
          evenTotal, evenBaseTable(dir), "id", 4)
        graft.operators.Checkpoints.release(evenComp)
      },
      () => {
        // Component-LOCAL ranks over the even sub-graph (unnormalized
        // fixed point — see PageRank.localRanks): the rank state
        // incremental maintenance reuses for untouched components.
        // Edge-endpoint nodes only, like rankTable.
        val evenRks = graft.operators.PageRank
          .localRanks(evenEdges, iterations = 5, numPartitions = Some(8))
        graft.operators.Bucketing.writeBucketed(
          evenRks, evenRankTable(dir), "id", 4)
        graft.operators.Checkpoints.release(evenRks)
      })
    Await.result(
      Future.sequence(builds.map(b => Future(b()))), Duration.Inf)
    // Rank-aware canonical per even component (top local rank, tiebreak
    // min id) — the per-cluster decision incremental canonical
    // maintenance (q150) reuses verbatim for every component an ingest
    // batch does not touch. Components with edges only (a singleton has
    // no rank and is its own canonical by convention); local ranks make
    // the choice component-stable under arrivals elsewhere.
    val evenCan = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("comp").orderBy(col("rank").desc, col("id"))
      spark.table(evenBaseTable(dir))
        .join(spark.table(evenRankTable(dir)), Seq("id"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("comp"), col("id").as("canonical_id"))
    }
    graft.operators.Bucketing.writeBucketed(
      evenCan, evenCanonicalTable(dir), "comp", 4)
  }

  def ensureDerived(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, compTable(dir), rankTable(dir), evenBaseTable(dir),
      evenRankTable(dir), evenCanonicalTable(dir))(buildDerived(spark, dir))
  }

  /** (id, comp) for the sub-corpus — q36's cluster map. */
  def components(spark: SparkSession, dir: String): DataFrame = {
    ensureDerived(spark, dir)
    spark.table(compTable(dir))
  }

  /** (id, rank) for the sub-corpus — q138's importance table. */
  def ranks(spark: SparkSession, dir: String): DataFrame = {
    ensureDerived(spark, dir)
    spark.table(rankTable(dir))
  }

  /** (id, comp) over the even ("yesterday's") slice of the sub-corpus,
    * TOTAL (singletons = own id) — the base map q145's incremental
    * component maintenance folds arrivals into.
    */
  def evenBaseComponents(spark: SparkSession, dir: String): DataFrame = {
    ensureDerived(spark, dir)
    spark.table(evenBaseTable(dir))
  }

  /** (id, rank) component-local fixed point over the even slice's edge
    * endpoints — the reusable rank state for incremental maintenance.
    */
  def evenLocalRanks(spark: SparkSession, dir: String): DataFrame = {
    ensureDerived(spark, dir)
    spark.table(evenRankTable(dir))
  }

  /** (comp, canonical_id) rank-aware canonicals over the even slice's
    * edged components — the reusable per-cluster decision for
    * incremental canonical maintenance (q150).
    */
  def evenCanonicals(spark: SparkSession, dir: String): DataFrame = {
    ensureDerived(spark, dir)
    spark.table(evenCanonicalTable(dir))
  }

  def touchedIdTable(dir: String): String = s"graft_duptid_${Q.scratchTag(dir)}"
  def touchedRankTable(dir: String): String =
    s"graft_duptrk_${Q.scratchTag(dir)}"

  /** FOURTH amortization layer: the per-INGEST-BATCH touched subgraph.
    * Rank maintenance (q149) and canonical maintenance (q150) consume
    * the same two delta products for one arrival batch — the touched
    * membership set (every member of every merged component containing
    * >= 1 arrival) and the component-local rank fixed point over the
    * touched subgraph's edges. Recomputing them per consumer ran the
    * identical fixed point twice per batch; a real pipeline decides
    * ranks AND canonicals from ONE touched-rank product. Both products
    * are delta-scale in the typical case but materialize as BUCKETED
    * TABLES, never forced broadcasts: the membership set's worst case
    * is component-sized (one viral near-dup cluster — boilerplate
    * families routinely reach millions of members in web crawls), so
    * consumers join it hint-free and AQE picks broadcast only when the
    * set is actually small. Only `touchedComps` (bounded by the arrival
    * count) rides a broadcast hint. Timed as its own `dupgraph_touched`
    * bench line at the family's first consumer (q149).
    */
  def buildTouched(spark: SparkSession, dir: String): Unit = synchronized {
    ensureDerived(spark, dir)
    val p = pairsUnder(spark, dir, DerivedMaxId).select("doc_a", "doc_b")
    val mergedComp = spark.table(compTable(dir))
    // Touched = merged components containing >= 1 arrival (odd id, the
    // q126 convention). <= one comp per arrival, so the hint is safe at
    // any corpus scale.
    val touchedComps = mergedComp.filter(col("id") % 2 === 1)
      .select("comp").distinct()
    val tIds = mergedComp
      .join(broadcast(touchedComps), Seq("comp"), "left_semi")
      .select("id")
    graft.operators.Bucketing.writeBucketed(tIds, touchedIdTable(dir), "id", 4)
    // A pair's endpoints share a component, so screening doc_a alone
    // keeps exactly the touched components' edges. Hint-free join
    // against the just-written membership table (see scaladoc).
    val touchedPairs = p.join(
      spark.table(touchedIdTable(dir)).withColumnRenamed("id", "doc_a"),
      Seq("doc_a"), "left_semi")
    val tEdges = touchedPairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(
        touchedPairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val tRanks = graft.operators.PageRank
      .localRanks(tEdges, iterations = 5, numPartitions = Some(8))
    graft.operators.Bucketing.writeBucketed(
      tRanks, touchedRankTable(dir), "id", 4)
    graft.operators.Checkpoints.release(tRanks)
  }

  def ensureTouched(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, touchedIdTable(dir), touchedRankTable(dir))(
      buildTouched(spark, dir))
  }

  /** (id) — every member of every merged component the current arrival
    * batch touches; the screen that splits recomputed from reusable
    * state in q149/q150.
    */
  def touchedIds(spark: SparkSession, dir: String): DataFrame = {
    ensureTouched(spark, dir)
    spark.table(touchedIdTable(dir))
  }

  /** (id, rank) component-local fixed point over the touched subgraph —
    * the once-per-batch rank recompute q149 returns directly and q150
    * re-decides canonicals from.
    */
  def touchedLocalRanks(spark: SparkSession, dir: String): DataFrame = {
    ensureTouched(spark, dir)
    spark.table(touchedRankTable(dir))
  }

  def servingCompTable(dir: String): String =
    s"graft_dupscomp_${Q.scratchTag(dir)}"

  /** THIRD amortization layer: the SERVING component map — the cluster
    * labels of "yesterday's corpus" (even doc_ids, the q126 convention)
    * that ingest-time consumers probe. q144 routes every arriving doc
    * against this map; recomputing full-corpus label propagation per
    * routing call was the slowest plan in the registry (~10s of bench
    * time), while in production the map is rebuilt once per curation run
    * and then only PROBED. Materialized TOTAL (singletons coalesced to
    * their own id, so every even doc has a row) and bucketed by id: the
    * mixed-pair routing join shuffles only the ingest-sized side, never
    * this corpus-sized map. Min-label determinism makes the table equal
    * an inline recompute row for row (DupGraphSpec pins it).
    */
  def buildServing(spark: SparkSession, dir: String): Unit = synchronized {
    val evenPairs = pairs(spark, dir)
      .filter(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0)
      .select("doc_a", "doc_b")
    val comp = graft.operators.Components
      .connectedComponents(evenPairs, numPartitions = Some(8))
    val total = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    graft.operators.Bucketing.writeBucketed(
      total, servingCompTable(dir), "id", 4)
    graft.operators.Checkpoints.release(comp)
  }

  def ensureServing(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, servingCompTable(dir))(buildServing(spark, dir))
  }

  /** (id, comp) over the FULL even sub-corpus, total — q144's routing
    * target. comp is the cluster's min id = its canonical.
    */
  def servingComponents(spark: SparkSession, dir: String): DataFrame = {
    ensureServing(spark, dir)
    spark.table(servingCompTable(dir))
  }

  def refreshedServingTable(dir: String): String =
    s"graft_dupsrefr_${Q.scratchTag(dir)}"

  /** Incremental SERVING-MAP refresh — fold one arrival batch (odd ids,
    * the q126 convention) into the materialized serving component map at
    * DELTA cost, instead of re-running full-corpus label propagation
    * per refresh ([[buildServing]], the third-costliest bench line).
    * This is exactly the [[graft.operators.Components.incremental]]
    * contract applied to the serving table: the base map is TOTAL over
    * existing ids (singletons coalesced — what buildServing writes),
    * arrivals are disjoint from it, and the delta pair set is every
    * built pair with >= 1 odd endpoint (band keys are per-document, so
    * no existing-existing pair changes when docs arrive). The refreshed
    * map is total over the MERGED corpus and equals a from-scratch
    * rebuild row for row (min-label determinism; DupGraphSpec pins it).
    * Materialized bucketed by id like every serving product, so routing
    * probes read it exchange-free.
    *
    * REGIME / measured crossover (sf0.1, local[32], round 13): this
    * fixture's arrival batch is ALL odd ids — a 50 % delta, at which
    * the incremental machinery ties the full flood (refresh 3.57 s vs
    * rebuild 3.51 s): the label lift + label-space propagation +
    * relabel joins cost about what one full-corpus propagation costs
    * when the "delta" IS half the corpus. The design regime is a
    * per-ingest-batch delta ([[refreshServingSmallDelta]], ~2 %:
    * 2.84 s), where the measured time is dominated by the fixed floor
    * every refresh pays at this scale — one scan of the mined pair set
    * to slice delta pairs plus the bucketed rewrite of the serving
    * table — while the delta-proportional part (label graph
    * propagation) is near zero. At 100 TB that fixed floor is what the
    * full rebuild ALSO pays many times over in its corpus-wide
    * propagation rounds; the incremental fold's win grows with
    * corpus/delta ratio precisely because only its floor, not its
    * propagation, scales with the corpus.
    */
  def refreshServing(spark: SparkSession, dir: String): Unit = synchronized {
    ensureServing(spark, dir)
    val delta = pairs(spark, dir)
      .filter((col("doc_a") % 2 === 1) || (col("doc_b") % 2 === 1))
      .select("doc_a", "doc_b")
    val arrivals = graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("id"))
    val refreshed = graft.operators.Components.incremental(
      spark.table(servingCompTable(dir)), arrivals, delta,
      numPartitions = Some(8))
    graft.operators.Bucketing.writeBucketed(
      refreshed, refreshedServingTable(dir), "id", 4)
    graft.operators.Checkpoints.release(refreshed)
  }

  def ensureRefreshed(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, refreshedServingTable(dir))(refreshServing(spark, dir))
  }

  /** (id, comp) over the MERGED corpus (existing + the folded arrival
    * batch), total — the post-refresh routing target q152 probes.
    */
  def refreshedServing(spark: SparkSession, dir: String): DataFrame = {
    ensureRefreshed(spark, dir)
    spark.table(refreshedServingTable(dir))
  }

  def smallDeltaServingTable(dir: String): String =
    s"graft_dupsrefd_${Q.scratchTag(dir)}"

  /** Arrival batch for the SMALL-DELTA refresh regime: ids ≡ 1 (mod 50)
    * — odd by construction (disjoint from the even serving base), ~2 %
    * of the corpus. Shared by [[refreshServingSmallDelta]] and its spec.
    */
  def smallDeltaArrivals(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 === 1)
      .select(col("doc_id").as("id"))

  /** [[refreshServing]] benched in its DESIGN regime: a ~2 % arrival
    * batch folded into the even serving map, vs the full-rebuild
    * comparator `dupgraph_serving` right beside it in the bench.
    *
    * Why this phase exists: the q152 fixture's arrival batch (ALL odd
    * ids) is half the corpus, and at a 50 % delta the incremental
    * machinery (label lift + label-space propagation with its per-round
    * driver barriers + relabel joins) legitimately loses to one full
    * flood — r12 measured refresh 8.55 s vs rebuild 4.42 s and read as
    * "refresh is a pessimization". The incremental path's contract is
    * delta-proportional cost, which only shows when the delta is
    * delta-sized: a production serving map refreshes per ingest batch
    * (minutes of arrivals against a corpus of everything), not per
    * half-corpus. Same [[graft.operators.Components.incremental]] code
    * path, same exactness pin (small-delta spec in DupGraphSpec), only
    * the batch geometry differs.
    *
    * Delta pair set: every mined pair with >= 1 arrival endpoint whose
    * OTHER endpoint is also in the merged corpus (even ∪ arrivals) —
    * pairs touching a not-yet-arrived odd doc don't exist yet.
    */
  def refreshServingSmallDelta(spark: SparkSession, dir: String): Unit = synchronized {
    ensureServing(spark, dir)
    val member = (c: org.apache.spark.sql.Column) =>
      (c % 2 === 0) || (c % 50 === 1)
    val delta = pairs(spark, dir)
      .filter(((col("doc_a") % 50 === 1) || (col("doc_b") % 50 === 1)) &&
        member(col("doc_a")) && member(col("doc_b")))
      .select("doc_a", "doc_b")
    val refreshed = graft.operators.Components.incremental(
      spark.table(servingCompTable(dir)),
      smallDeltaArrivals(spark, dir), delta,
      numPartitions = Some(8))
    graft.operators.Bucketing.writeBucketed(
      refreshed, smallDeltaServingTable(dir), "id", 4)
    graft.operators.Checkpoints.release(refreshed)
  }

  def ensureSmallDelta(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, smallDeltaServingTable(dir))(
      refreshServingSmallDelta(spark, dir))
  }

  /** (id, comp) over even ∪ small-delta arrivals, total. */
  def smallDeltaServing(spark: SparkSession, dir: String): DataFrame = {
    ensureSmallDelta(spark, dir)
    spark.table(smallDeltaServingTable(dir))
  }
}

/** Materialized twin-collapse triangle products: the q167/q168/q170
  * family probes ONE per-dir build (counts table + 3-truss edge table),
  * the [[DupGraphPhases]] build-once discipline applied to the graph-
  * density layer. The twin-class frame is computed ONCE inside the
  * build and shared by both products (each operator takes it
  * pre-computed), so the linear adjacency shuffle is paid once per
  * refresh, not per query. Bench times the build as its own
  * `tri_build` line at the family's first consumer in name order.
  */
object TrianglePhases {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import graft.operators.{Checkpoints, Triangles}

  def cntTable(dir: String): String = s"graft_tricnt_${Q.scratchTag(dir)}"
  def trussTable(dir: String): String = s"graft_truss_${Q.scratchTag(dir)}"
  def statsTable(dir: String): String = s"graft_twinst_${Q.scratchTag(dir)}"
  def peeledTable(dir: String): String = s"graft_trpeel_${Q.scratchTag(dir)}"
  def refCntTable(dir: String): String = s"graft_tricntr_${Q.scratchTag(dir)}"
  def refTrussTable(dir: String): String = s"graft_trussr_${Q.scratchTag(dir)}"
  def refStatsTable(dir: String): String = s"graft_twinstr_${Q.scratchTag(dir)}"

  /** Peel-loop bound for [[buildPeeled]]. The q176 oracle unrolls
    * exactly PeelMaxIters + 1 support cuts (the +1 is the idempotent
    * cut inside trussCanonicalsCollapsed), so operator and oracle
    * compute the SAME prefix whether or not the graph converges within
    * the bound — equality needs no convergence assumption. Measured:
    * both the sf0.01 and sf0.1 dup graphs reach the 3-truss fixed
    * point after ONE effective cut (cut 2 drops nothing), so 3 is
    * already one spare round past convergence-detection.
    */
  val PeelMaxIters = 3

  def vclsTable(dir: String): String = s"graft_twincls_${Q.scratchTag(dir)}"
  def qTable(dir: String): String = s"graft_twinq_${Q.scratchTag(dir)}"

  def build(spark: SparkSession, dir: String): Unit = synchronized {
    val e = DupGraphPhases.pairs(spark, dir).select("doc_a", "doc_b")
    // The twin-class frame AND the quotient edge set are derived once
    // and pinned; all three products consume them — the edge stream is
    // scanned once for the adjacency shuffle and once for the quotient,
    // independent of how many products hang off the decomposition.
    val vcls = Triangles.twinClasses(e, "doc_a", "doc_b").localCheckpoint()
    // The decomposition itself is a phase product: the peel build's
    // FIRST cut runs on exactly this graph, so persisting (doc_id, cls,
    // s) lets it skip its round-0 adjacency-fingerprint pass.
    Products.store(vcls, vclsTable(dir))
    writeProducts(e, vcls,
      cntTable(dir), trussTable(dir), statsTable(dir),
      persistQTo = Some(qTable(dir)))
  }

  def ensure(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, vclsTable(dir), cntTable(dir), trussTable(dir),
      statsTable(dir), qTable(dir))(build(spark, dir))
  }

  def counts(spark: SparkSession, dir: String): DataFrame = {
    ensure(spark, dir); spark.table(cntTable(dir))
  }

  /** (doc_id, canonical_id) over the 3-truss survivor graph. */
  def trussCanonicals(spark: SparkSession, dir: String): DataFrame = {
    ensure(spark, dir); spark.table(trussTable(dir))
  }

  /** (cls, s, q_deg) — the twin-decomposition audit table. */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    ensure(spark, dir); spark.table(statsTable(dir))
  }

  /** TRUE truss decomposition at the q176 operating point
    * (minSupport = 1): the table of the peel's FIXED POINT, derived
    * entirely from the PERSISTED base decomposition. The theorem
    * TrianglesSpec pins ("minSupport = 1 peel converges after ONE
    * cut") makes the single cut provably the fixed point — a support-0
    * edge is in no triangle, so removing it changes no survivor's
    * support — and therefore the peel's canonicals EQUAL the
    * single-cut canonicals computed with the base graph's own
    * decomposition. Every input to that computation is an already-
    * persisted phase product (vclsTable + qTable): survive conditions
    * are class arithmetic on the tiny quotient, components run at
    * quotient level, and the only node-sized work is the final
    * expansion join — NO pass over the multi-million-row edge stream
    * at all. (Until r16 this build ran the peel loop and then
    * re-collapsed the cut graph from scratch — 14.5 s at sf0.1 — to
    * derive a provably identical table; TriangleRefreshSpec pins the
    * shortcut against that general-path ground truth. The general
    * peel, [[Triangles.trussPeelCollapsedWithDecomp]], remains the
    * operator for thresholds >= 2, where the cut genuinely cascades.)
    */
  def buildPeeled(spark: SparkSession, dir: String): Unit = synchronized {
    ensure(spark, dir)
    val e = DupGraphPhases.pairs(spark, dir).select("doc_a", "doc_b")
    Products.store(Triangles.trussCanonicalsCollapsed(
      e, "doc_a", "doc_b", minSupport = 1L,
      vclsOpt = Some(spark.table(vclsTable(dir))),
      qOpt = Some(spark.table(qTable(dir)))), peeledTable(dir))
  }

  def ensurePeeled(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, peeledTable(dir))(buildPeeled(spark, dir))
  }

  /** (doc_id, canonical_id) over the FIXED-POINT 3-truss graph. */
  def peeledCanonicals(spark: SparkSession, dir: String): DataFrame = {
    ensurePeeled(spark, dir); spark.table(peeledTable(dir))
  }

  /** Incremental REFRESH of the triangle serving products: re-derive
    * counts/truss/stats for the MERGED graph (stored even graph + the
    * bounded arrival batch) from the FOLDED fingerprints
    * ([[TwinFoldPhases.foldedFp]]) instead of re-hashing adjacency from
    * scratch. The twin decomposition is the only node-sized state the
    * collapsed products need: classes regroup from the folded
    * fingerprint table (node-sized), the quotient needs one pruned
    * columnar pass over the merged edge stream (no adjacency shuffle —
    * the rebuild's dominant cost), and every product on top is
    * class-arithmetic on the tiny quotient. Output tables are
    * spec-pinned equal to a from-scratch build of the same merged
    * graph ([[rebuildMerged]], the bench comparator).
    */
  def refresh(spark: SparkSession, dir: String): Unit = synchronized {
    TwinFoldPhases.ensureFolded(spark, dir)
    val e = TwinFoldPhases.mergedPairs(spark, dir)
    val vcls = Triangles.classesFromFingerprints(
      spark.table(TwinFoldPhases.foldedTable(dir))).localCheckpoint()
    writeProducts(e, vcls,
      refCntTable(dir), refTrussTable(dir), refStatsTable(dir))
  }

  def ensureRefreshed(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, refCntTable(dir), refTrussTable(dir),
      refStatsTable(dir))(refresh(spark, dir))
  }

  /** (doc_id, n_triangles) over the merged graph — the q178 probe. */
  def refreshedCounts(spark: SparkSession, dir: String): DataFrame = {
    ensureRefreshed(spark, dir); spark.table(refCntTable(dir))
  }

  /** The bench comparator for [[refresh]]: the SAME merged-graph
    * products from scratch — full adjacency shuffle included. Writes to
    * throwaway tables so both sides pay identical materialization cost;
    * the spec compares its output tables against the refresh's.
    */
  def rebuildMerged(spark: SparkSession, dir: String): Unit = synchronized {
    val e = TwinFoldPhases.mergedPairs(spark, dir)
    val vcls = Triangles.twinClasses(e, "doc_a", "doc_b").localCheckpoint()
    val tag = Q.scratchTag(dir)
    writeProducts(e, vcls,
      s"graft_tricntx_$tag", s"graft_trussx_$tag", s"graft_twinstx_$tag")
  }

  def scRefCntTable(dir: String): String = s"graft_tricnts_${Q.scratchTag(dir)}"
  def scRefTrussTable(dir: String): String = s"graft_trusss_${Q.scratchTag(dir)}"
  def scRefStatsTable(dir: String): String = s"graft_twinsts_${Q.scratchTag(dir)}"

  /** [[refresh]] at the SCALED-STORED geometry (the q173_scaled16
    * device, applied to the full products): stored graph =
    * [[TwinFoldPhases.ScaleCopies]] id-shifted copies of the even pair
    * graph, arrival = the single-copy bounded delta. The r15 verdict's
    * point: at fixture scale refresh and rebuild tie (9.05 vs 9.39 s —
    * the shared quotient + product tail dominates both), so the margin
    * the refresh exists for — skipping the full adjacency shuffle —
    * needs a geometry where that shuffle GROWS while the fold's
    * touched volume does not. Here the rebuild's twinClasses must
    * re-hash ScaleCopies x the adjacency volume; the refresh regroups
    * the (node-sized) folded fingerprint table. The shared tail
    * (quotient pass + class-arithmetic products) scales identically on
    * both sides, so read the PAIR's difference, not either line alone.
    * Spec-pinned equal to [[scaledRebuildMerged]] (TriangleRefreshSpec).
    */
  def scaledRefresh(spark: SparkSession, dir: String): Unit = synchronized {
    TwinFoldPhases.ensureFoldedScaled(spark, dir)
    val e = TwinFoldPhases.scaledMergedPairs(spark, dir)
    val vcls = Triangles.classesFromFingerprints(
      spark.table(TwinFoldPhases.foldedScaledTable(dir))).localCheckpoint()
    writeProducts(e, vcls,
      scRefCntTable(dir), scRefTrussTable(dir), scRefStatsTable(dir))
  }

  def ensureScaledRefreshed(spark: SparkSession, dir: String): Unit =
    synchronized {
      Products.ensure(spark, scRefCntTable(dir), scRefTrussTable(dir),
        scRefStatsTable(dir))(scaledRefresh(spark, dir))
    }

  /** The from-scratch comparator for [[scaledRefresh]]: full adjacency
    * shuffle of the scaled merged graph, identical product tail,
    * throwaway tables so both sides pay the same materialization.
    */
  def scaledRebuildMerged(spark: SparkSession, dir: String): Unit =
    synchronized {
      val e = TwinFoldPhases.scaledMergedPairs(spark, dir)
      val vcls = Triangles.twinClasses(e, "doc_a", "doc_b").localCheckpoint()
      val tag = Q.scratchTag(dir)
      writeProducts(e, vcls,
        s"graft_tricntsx_$tag", s"graft_trusssx_$tag", s"graft_twinstsx_$tag")
    }

  /** Shared product-materialization tail of [[build]]/[[refresh]]/
    * [[rebuildMerged]]: quotient once, three collapsed products, all
    * from a caller-supplied (pinned) twin-class frame. Releases `vcls`.
    */
  private def writeProducts(
      e: DataFrame, vcls: DataFrame,
      cnt: String, truss: String, stats: String,
      persistQTo: Option[String] = None): Unit = {
    val q = Triangles.quotientEdges(
      e.select(col("doc_a").as("u"), col("doc_b").as("v")), vcls).localCheckpoint()
    try {
      // Optionally persist the quotient beside the products: the peel
      // build seeds its round 0 from it (same base graph).
      persistQTo.foreach(Products.store(q, _))
      Products.store(Triangles.vertexTriangleCountsCollapsed(
        e, "doc_a", "doc_b", Some(vcls), Some(q)), cnt)
      Products.store(Triangles.trussCanonicalsCollapsed(
        e, "doc_a", "doc_b", minSupport = 1L, Some(vcls), Some(q)), truss)
      Products.store(Triangles.twinQuotientStats(
        e, "doc_a", "doc_b", Some(vcls), Some(q)), stats)
    } finally { Checkpoints.release(q); Checkpoints.release(vcls) }
  }
}

/** The stored "yesterday" adjacency-fingerprint table behind q173: one
  * md5 closed-neighborhood fingerprint per vertex of the EVEN pair
  * graph, persisted once per input dir — the node-sized structural
  * state the twin fold re-hashes only at arrival-touched vertices.
  */
object TwinFoldPhases {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import graft.operators.{Checkpoints, Triangles}

  def fpTable(dir: String): String = s"graft_twinfp_${Q.scratchTag(dir)}"

  /** Yesterday's graph: pairs wholly within the even half. */
  def evenPairs(spark: SparkSession, dir: String): DataFrame =
    DupGraphPhases.pairs(spark, dir)
      .filter(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0)
      .select("doc_a", "doc_b")

  /** Arrival pair delta: the q154 small-delta geometry — every mined
    * pair with >= 1 arrival endpoint (ids = 1 mod 50) whose other
    * endpoint is in the merged corpus (even or arrival).
    */
  def deltaPairs(spark: SparkSession, dir: String): DataFrame = {
    val member = (c: org.apache.spark.sql.Column) =>
      (c % 2 === 0) || (c % 50 === 1)
    DupGraphPhases.pairs(spark, dir)
      .filter(((col("doc_a") % 50 === 1) || (col("doc_b") % 50 === 1)) &&
        member(col("doc_a")) && member(col("doc_b")))
      .select("doc_a", "doc_b")
  }

  /** Degree cap defining the BOUNDED-cluster arrival regime for the
    * q173 bench pair: fold cost is proportional to the TOUCHED
    * ADJACENCY VOLUME (sum of |N[v]| over delta-edge endpoints — see
    * Triangles.refreshFingerprints' REGIME note), and on a corpus that
    * is 40% one near-clique the uniform 2% slice lands arrivals in
    * every giant cluster, re-hashing most of the graph: the losing
    * regime. A production ingest batch (minutes of crawl against a
    * corpus of everything) mostly touches bounded neighborhoods; this
    * geometry models it by keeping only delta pairs BOTH of whose
    * endpoints have pair-graph degree <= the cap, so touched volume is
    * <= |touched| * cap however large the corpus grows.
    */
  val BoundedDeg = 32L

  /** The q154 arrival delta restricted to bounded neighborhoods: both
    * endpoints' full pair-graph degree <= [[BoundedDeg]]. The degree
    * frame is tiny (one count per bounded-degree vertex) and
    * broadcasts into two semi-joins — no extra shuffle of the pair
    * stream.
    */
  def boundedDeltaPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = DupGraphPhases.pairs(spark, dir).select("doc_a", "doc_b")
    val deg = e.select(col("doc_a").as("id"))
      .unionAll(e.select(col("doc_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val ok = org.apache.spark.sql.functions.broadcast(
      deg.filter(col("deg") <= BoundedDeg).select("id"))
    deltaPairs(spark, dir)
      .join(ok.withColumnRenamed("id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(ok.withColumnRenamed("id", "doc_b"), Seq("doc_b"), "left_semi")
  }

  def boundedDeltaTable(dir: String): String =
    s"graft_twinbdl_${Q.scratchTag(dir)}"

  /** Materialize [[boundedDeltaPairs]] once per dir. In production the
    * ingest batch IS a materialized arrival table; deriving it lazily
    * here instead made the fold re-run the degree aggregation at every
    * one of refreshFingerprints' references to the delta frame (it
    * appears under two semi-joins and two broadcasts), which is what
    * put q173_bounded_fold BEHIND its own from-scratch comparator in
    * the r15 bench (7.0 s vs 2.7 s). Phase products are tables, not
    * lazy plans.
    */
  def buildBoundedDelta(spark: SparkSession, dir: String): Unit = synchronized {
    Products.store(boundedDeltaPairs(spark, dir), boundedDeltaTable(dir))
  }

  def ensureBoundedDelta(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, boundedDeltaTable(dir))(buildBoundedDelta(spark, dir))
  }

  /** Bench probe (q173_bounded_fold): fold the bounded delta into the
    * stored fingerprints — the delta-proportional path in its design
    * regime. Caller materializes (noop); compare against
    * [[boundedRebuild]] right beside it in the bench. Both sides read
    * the SAME materialized delta table, so the comparison isolates
    * fold-vs-rehash, not delta derivation.
    */
  def boundedFold(spark: SparkSession, dir: String): DataFrame = {
    ensureStored(spark, dir)
    ensureBoundedDelta(spark, dir)
    // dedupTouched = false: both streams are mined-pair-table slices —
    // deduplicated, canonical, disjoint (delta carries an odd endpoint)
    // — so the fold skips the per-fold touched-stream distinct exchange.
    Triangles.refreshFingerprints(
      spark.table(fpTable(dir)),
      evenPairs(spark, dir), spark.table(boundedDeltaTable(dir)),
      "doc_a", "doc_b", dedupTouched = false)
  }

  /** The from-scratch comparator on the SAME merged graph: one full
    * adjacency shuffle of even ∪ bounded-delta.
    */
  def boundedRebuild(spark: SparkSession, dir: String): DataFrame = {
    ensureBoundedDelta(spark, dir)
    Triangles.adjacencyFingerprints(
      evenPairs(spark, dir).unionByName(spark.table(boundedDeltaTable(dir))),
      "doc_a", "doc_b")
  }

  def buildStored(spark: SparkSession, dir: String): Unit = synchronized {
    Products.store(
      Triangles.adjacencyFingerprints(evenPairs(spark, dir), "doc_a", "doc_b"),
      fpTable(dir))
  }

  /** Crossover-demonstration geometry (q173_scaled4_* bench pair): the
    * sf fixture is too small for the fold to beat a full rehash — at
    * sf0.1 the whole even graph re-hashes in ~1 s, under the fold's
    * fixed floor (two broadcast probes + the touched-adjacency hash) —
    * so fold-vs-rebuild measures a tie there, not the asymptotics. The
    * scaled pair makes the asymptotics measurable WITHOUT synthesizing
    * new content: the stored graph is [[ScaleCopies]] id-shifted copies
    * of the real even pair graph (disjoint id ranges, so structure per
    * copy is exactly the fixture's), while the arrival delta stays the
    * single-copy bounded batch. Rebuild must re-hash ScaleCopies x the
    * adjacency volume; the fold's touched volume is unchanged — its
    * cost should stay FLAT as the stored graph grows, which is the
    * whole claim behind maintaining fingerprints incrementally at
    * 100 TB.
    */
  val ScaleCopies = 16
  val ScaleOffset = 10000000L

  def scaledEvenTable(dir: String): String =
    s"graft_twinsce_${Q.scratchTag(dir)}"
  def scaledFpTable(dir: String): String =
    s"graft_twinscfp_${Q.scratchTag(dir)}"

  /** Scaled stored graph + its fingerprint table, built once per dir
    * (ingest-time cost, amortized like every serving build).
    */
  def buildScaled(spark: SparkSession, dir: String): Unit = synchronized {
    val even = evenPairs(spark, dir)
    // ONE scan + an in-task Generate instead of a ScaleCopies-branch
    // union (r21 verdict item 4): the union re-scanned the bucketed
    // pair table per copy (16 scans of the same rows) and its write
    // inherited one output file per branch scan task (~256 KB-scale
    // files the downstream fingerprint scan then pays open cost on).
    // The explode produces the identical row set from a single scan
    // with ZERO exchanges: the bucketed pair scan is one task per
    // bucket (16), each task generates its copies in place and writes
    // one well-sized file (~|even|/16 x ScaleCopies rows).
    val scaled = even
      .select(explode(sequence(lit(0L), lit((ScaleCopies - 1).toLong))).as("__k"),
        col("doc_a"), col("doc_b"))
      .select((col("doc_a") + col("__k") * lit(ScaleOffset)).as("doc_a"),
        (col("doc_b") + col("__k") * lit(ScaleOffset)).as("doc_b"))
    Products.store(scaled, scaledEvenTable(dir))
    Products.store(Triangles.adjacencyFingerprints(
      spark.table(scaledEvenTable(dir)), "doc_a", "doc_b"), scaledFpTable(dir))
  }

  def ensureScaled(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, scaledEvenTable(dir), scaledFpTable(dir))(
      buildScaled(spark, dir))
  }

  /** Fold the (single-copy) bounded delta into the scaled stored
    * fingerprints — same arrival batch as [[boundedFold]], stored graph
    * ScaleCopies x larger.
    */
  def scaledFold(spark: SparkSession, dir: String): DataFrame = {
    ensureScaled(spark, dir)
    ensureBoundedDelta(spark, dir)
    Triangles.refreshFingerprints(
      spark.table(scaledFpTable(dir)),
      spark.table(scaledEvenTable(dir)),
      spark.table(boundedDeltaTable(dir)),
      "doc_a", "doc_b", dedupTouched = false)
  }

  /** Core-scaling fixture for the twin-fingerprint EXCHANGE itself (r21
    * verdict item 8): at sf0.1 every top bench line is fixed-overhead
    * dominated and the 8-vs-32-core ratios sit near 1, so the round's
    * headline §2 claim (the fingerprint shuffle ships three longs per
    * vertex instead of adjacency volume) had no measured ratio behind
    * it. This line is the claim's pure-compute form: the scaled edge
    * stream is GENERATED in-task (one bucketed scan + repartition to
    * 2x defaultParallelism — explicit count, so AQE never coalesces it
    * to one task — + the copy explode), then
    * [[Triangles.adjacencyFingerprints]] runs its map-side partial
    * aggregation and 3-long-per-vertex exchange over ScaleCopies x the
    * fixture's adjacency volume with NO file-split or write ceiling on
    * parallelism. Work per run is core-count independent; an 8-core
    * run should take ~4x the 32-core run if the operator scales.
    */
  def scaledFingerprintHash(spark: SparkSession, dir: String): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism * 2
    val scaled = evenPairs(spark, dir)
      .repartition(parts, col("doc_a"))
      .select(explode(sequence(lit(0L), lit((ScaleCopies - 1).toLong))).as("__k"),
        col("doc_a"), col("doc_b"))
      .select((col("doc_a") + col("__k") * lit(ScaleOffset)).as("doc_a"),
        (col("doc_b") + col("__k") * lit(ScaleOffset)).as("doc_b"))
    Triangles.adjacencyFingerprints(scaled, "doc_a", "doc_b")
  }

  /** From-scratch comparator on the scaled merged graph. */
  def scaledRebuild(spark: SparkSession, dir: String): DataFrame = {
    ensureScaled(spark, dir)
    ensureBoundedDelta(spark, dir)
    Triangles.adjacencyFingerprints(
      spark.table(scaledEvenTable(dir))
        .unionByName(spark.table(boundedDeltaTable(dir))),
      "doc_a", "doc_b")
  }

  def ensureStored(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, fpTable(dir))(buildStored(spark, dir))
  }

  def foldedTable(dir: String): String = s"graft_twinffp_${Q.scratchTag(dir)}"

  /** The merged graph the fold serves: stored even pairs ∪ the arrival
    * delta. Equal to "every mined pair whose endpoints are both members
    * (even or arrival)" — evenPairs covers even-even, deltaPairs covers
    * everything touching an arrival — which is exactly the membership
    * clause the q178 oracle floods. The distinct() is defensive (delta
    * pairs always carry an odd endpoint, so the union is disjoint
    * today) and cheap: the pair sets are canonical (doc_a < doc_b).
    */
  def mergedPairs(spark: SparkSession, dir: String): DataFrame =
    evenPairs(spark, dir).unionByName(deltaPairs(spark, dir)).distinct()

  /** Fold the arrival delta into the STORED fingerprints and persist
    * the merged graph's fingerprint table — the node-sized state
    * [[TrianglePhases.refresh]] regroups into twin classes. Spec-pinned
    * row-for-row equal to re-hashing the merged graph from scratch
    * (TwinFoldSpec); cost is the arrival footprint + one pruned stored-
    * edge pass, never a full adjacency shuffle.
    */
  def buildFolded(spark: SparkSession, dir: String): Unit = synchronized {
    ensureStored(spark, dir)
    val folded = Triangles.refreshFingerprints(
      spark.table(fpTable(dir)),
      evenPairs(spark, dir), deltaPairs(spark, dir),
      "doc_a", "doc_b", dedupTouched = false).localCheckpoint()
    try Products.store(folded, foldedTable(dir))
    finally Checkpoints.release(folded)
  }

  def ensureFolded(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, foldedTable(dir))(buildFolded(spark, dir))
  }

  def foldedScaledTable(dir: String): String =
    s"graft_twinsffp_${Q.scratchTag(dir)}"

  /** The merged graph at the scaled geometry: scaled stored copies ∪
    * the single-copy bounded delta. PROVABLY disjoint (no defensive
    * distinct): every scaled-even endpoint is even (the id shift is a
    * multiple of [[ScaleOffset]], itself even), while every bounded-
    * delta pair carries an endpoint ≡ 1 mod 50 — odd.
    */
  def scaledMergedPairs(spark: SparkSession, dir: String): DataFrame = {
    ensureScaled(spark, dir)
    ensureBoundedDelta(spark, dir)
    spark.table(scaledEvenTable(dir))
      .unionByName(spark.table(boundedDeltaTable(dir)))
  }

  /** Fold the bounded delta into the SCALED stored fingerprints and
    * persist — the node-sized state [[TrianglePhases.scaledRefresh]]
    * regroups. Same fold as the q173_scaled16_fold bench line, kept as
    * a table so the product refresh starts from served state exactly as
    * the fixture-scale [[buildFolded]] does.
    */
  def buildFoldedScaled(spark: SparkSession, dir: String): Unit =
    synchronized {
      val folded = scaledFold(spark, dir).localCheckpoint()
      try Products.store(folded, foldedScaledTable(dir))
      finally Checkpoints.release(folded)
    }

  def ensureFoldedScaled(spark: SparkSession, dir: String): Unit =
    synchronized {
      Products.ensure(spark, foldedScaledTable(dir))(buildFoldedScaled(spark, dir))
    }
}

/** Build/probe phases for the persisted CDC chunk-fingerprint index
  * (q198): the even slice's distinct chunk fingerprints live in an
  * fp-bucketed table, built once per input dir in the session's catalog
  * and probed by every arrival batch — the ingest-side serving seam.
  * `appendBatch` is the fold face (at-least-once appends are tolerated
  * by the probe's semi-join; see
  * [[graft.operators.CdcChunks.probeStoredReport]]).
  */
object CdcPhases {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  private[graft] def table(dir: String) = s"graft_cdcfp_${Q.scratchTag(dir)}"

  /** One-shot: drop + write the even slice's distinct fingerprints,
    * bucketed and sorted by fp (idempotent; the amortized ingest cost
    * the bench times as its own line).
    */
  def buildStored(spark: SparkSession, dir: String): Unit = synchronized {
    graft.operators.Bucketing.writeBucketed(
      graft.operators.CdcChunks.chunks(
        Tables.documents(spark, dir).filter(col("doc_id") % 2 === 0),
        "doc_id", "text", window = 3, modulus = 8)
        .select(col("fp")).distinct(),
      table(dir), "fp", buckets = 8)
  }

  def ensureStored(spark: SparkSession, dir: String): Unit = synchronized {
    Products.ensure(spark, table(dir))(buildStored(spark, dir))
  }

  /** Fold face: append one arrival batch's distinct fingerprints (the
    * per-batch distinct bounds the append; cross-batch duplicates are
    * the probe's semi-join's job).
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, dir: String): Unit = {
    ensureStored(spark, dir)
    graft.operators.Bucketing.appendBucketed(
      graft.operators.CdcChunks.chunks(
        batch, "doc_id", "text", window = 3, modulus = 8)
        .select(col("fp")).distinct(),
      table(dir), "fp", buckets = 8)
  }

  /** Probe the stored index with the odd slice (q198's registry face). */
  def probe(spark: SparkSession, dir: String): DataFrame = {
    ensureStored(spark, dir)
    graft.operators.CdcChunks.probeStoredReport(
      spark.table(table(dir)),
      Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1),
      "doc_id", "text", window = 3, modulus = 8)
  }
}
