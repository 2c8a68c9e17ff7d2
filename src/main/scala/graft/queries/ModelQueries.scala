package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.ImportanceModels

/** Model-based curation queries (q180-q182): importance weighting against
  * a target distribution, reference-LM quality scoring, and the rule-filter
  * ensemble verdict — the scoring stages between dedup and sampling in a
  * training-data pipeline. Oracles mirror the integer-mass formulations
  * literally (see [[graft.operators.ImportanceModels]] for why the scores
  * avoid logs: cross-engine `ln` rounding is not contractual; integer sums
  * with one final division are).
  */
object ModelQueries {

  private val DsirB = ImportanceModels.DsirBuckets
  private val LmB = ImportanceModels.LmBuckets

  /** DuckDB fragment: (doc_id, is_target flag, bucket) per word occurrence
    * — the md5 word hash (engine-portable, see q31) folded into `m`
    * buckets; `flagSql` is the 0/1 target/train membership expression.
    */
  private def duckOccCte(m: Int, flagName: String, flagSql: String): String =
    s"""SELECT doc_id, $flagSql AS $flagName,
       |       CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % $m AS bucket
       |FROM (SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |      FROM documents)""".stripMargin

  /** q180's oracle body — a val because q185 re-embeds it as a
    * derived table; weights and selection can then never drift.
    */
  private val dsirSql: String =
    s"""WITH occ AS (
       |${duckOccCte(ImportanceModels.DsirBuckets, "is_target", "CASE WHEN lang = 'en' THEN 1 ELSE 0 END")}
       |), stats AS (
       |  SELECT bucket,
       |         CAST(SUM(is_target) AS BIGINT) AS target_cnt,
       |         CAST(SUM(1 - is_target) AS BIGINT) AS raw_cnt
       |  FROM occ GROUP BY bucket
       |)
       |SELECT occ.doc_id,
       |       COUNT(*) AS n_toks,
       |       CAST(SUM(s.target_cnt) AS BIGINT) AS target_mass,
       |       CAST(SUM(s.raw_cnt) AS BIGINT) AS raw_mass,
       |       CAST(SUM(s.target_cnt) + COUNT(*) AS DOUBLE)
       |         / CAST(SUM(s.raw_cnt) + COUNT(*) AS DOUBLE) AS dsir_weight
       |FROM occ JOIN stats s USING (bucket)
       |GROUP BY occ.doc_id""".stripMargin

  /** q181's oracle body — a val (not inlined) because q184 re-embeds it
    * as a subquery; the two sides can then never drift.
    */
  private val lmSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, lang, array_to_string(t[i : i+1], ' ') AS gram
       |  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS t
       |        FROM documents),
       |       UNNEST(range(1, len(t))) AS u(i)
       |), b AS (
       |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_train,
       |         CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % $LmB AS bucket
       |  FROM g
       |), lm AS (
       |  SELECT bucket, COUNT(*) AS cnt FROM b WHERE is_train = 1 GROUP BY 1
       |), tot AS (
       |  SELECT COUNT(*) AS total FROM b WHERE is_train = 1
       |)
       |SELECT b.doc_id,
       |       COUNT(*) AS n_bigrams,
       |       CAST(SUM(COALESCE(lm.cnt, 0)) AS BIGINT) AS lm_hits,
       |       CAST(SUM(COALESCE(lm.cnt, 0)) + COUNT(*) AS DOUBLE)
       |         / (CAST(COUNT(*) AS DOUBLE) * CAST(tot.total + $LmB AS DOUBLE)) AS lm_score
       |FROM b LEFT JOIN lm USING (bucket), tot
       |GROUP BY b.doc_id, tot.total""".stripMargin

  /** q182's oracle body — a val because q183 re-embeds it as a
    * subquery; the verdict and the audit can then never drift.
    */
  private val fusionSql: String =
    """SELECT doc_id,
          |       (lang_ok AND len_ok AND punct_ok AND rep_ok AND stop_ok AND wl_ok) AS keep,
          |       concat_ws(',',
          |         CASE WHEN lang_ok THEN NULL ELSE 'lang' END,
          |         CASE WHEN len_ok THEN NULL ELSE 'length' END,
          |         CASE WHEN punct_ok THEN NULL ELSE 'punct' END,
          |         CASE WHEN rep_ok THEN NULL ELSE 'repetition' END,
          |         CASE WHEN stop_ok THEN NULL ELSE 'stopword' END,
          |         CASE WHEN wl_ok THEN NULL ELSE 'word_len' END) AS reasons
          |FROM (
          |  SELECT doc_id,
          |         (CASE WHEN chars > 0 AND cjk / chars >= 0.05 THEN 'zh'
          |               WHEN toks > 0 AND s_en / toks >= 1.0/12.0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
          |               WHEN toks > 0 AND s_de / toks >= 1.0/12.0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
          |               WHEN toks > 0 AND s_fr / toks >= 1.0/12.0 AND s_fr >= s_es THEN 'fr'
          |               WHEN toks > 0 AND s_es / toks >= 1.0/12.0 THEN 'es'
          |               WHEN letters > 0 THEN 'und'
          |               ELSE 'zxx' END) = lang AS lang_ok,
          |         chars BETWEEN 50.0 AND 100000.0 AS len_ok,
          |         CAST(punct AS DOUBLE) / greatest(toks, 1.0) <= 0.3 AS punct_ok,
          |         (CASE WHEN nb > 0 THEN CAST(nb - nd AS DOUBLE) / nb ELSE 0.0 END) <= 0.2 AS rep_ok,
          |         CAST(stops AS DOUBLE) / greatest(toks, 1.0) >= 0.05 AS stop_ok,
          |         chars / greatest(toks, 1.0) BETWEEN 3.0 AND 10.0 AS wl_ok
          |  FROM (
          |    SELECT doc_id, lang,
          |           CAST(LENGTH(text) AS DOUBLE) AS chars,
          |           CAST(len(tk) AS DOUBLE) AS toks,
          |           CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS DOUBLE) AS cjk,
          |           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS s_en,
          |           CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|zu)\b')) AS DOUBLE) AS s_de,
          |           CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|des|une)\b')) AS DOUBLE) AS s_fr,
          |           CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|que|un)\b')) AS DOUBLE) AS s_es,
          |           len(regexp_extract_all(text, '[A-Za-z]')) AS letters,
          |           len(regexp_extract_all(text, '[.!?,;:]')) AS punct,
          |           len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS stops,
          |           len(tk) - 1 AS nb,
          |           len(list_distinct(list_transform(range(1, len(tk)),
          |             i -> tk[i] || ' ' || tk[i+1]))) AS nd
          |    FROM (SELECT doc_id, lang, text,
          |                 string_split_regex(trim(text), '\s+') AS tk
          |          FROM documents)
          |  )
          |)""".stripMargin

  private def indent(sql: String, pad: String): String =
    sql.linesIterator.map(pad + _).mkString("\n")

  /** Unrolled batch-perceptron oracle (q199/q200): the K training
    * rounds of [[graft.operators.Perceptron]] as a CTE chain — round r
    * derives margins `m{r}` under the entering weights, the
    * misclassified set `mis{r}` (boundary counted wrong), the merged
    * per-bucket weights `w{r}` and bias `b{r}`. Everything is BIGINT,
    * so the chain reproduces the trained model bit-for-bit. Returns
    * (cteChain, finalMarginCte) with margins under the FINAL weights
    * in CTE `m{rounds + 1}`.
    *
    * Every CTE is `AS MATERIALIZED`: the chain references each prior
    * level more than once (`w{r}` feeds both `m{r+1}` and `w{r+1}`),
    * and DuckDB's default inlining re-evaluates each reference — a
    * 2^rounds blowup that turns a sub-second oracle into minutes.
    * Materialization makes the chain linear; it is a pure evaluation
    * hint with identical results.
    */
  private def duckPerceptronCtes(buckets: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH occ AS MATERIALIZED (
         |  SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt, y FROM (
         |    SELECT doc_id,
         |           CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % $buckets AS bucket,
         |           CAST(CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y
         |    FROM (SELECT doc_id, lang, unnest(string_split_regex(trim(text), '\\s+')) AS w
         |          FROM documents)
         |  ) GROUP BY doc_id, bucket, y
         |), lab AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, y FROM occ
         |)""".stripMargin
    for (r <- 1 to rounds + 1) {
      // Margins entering round r (round 1: all-zero weights).
      if (r == 1)
        sb ++=
          s""", m1 AS MATERIALIZED (
             |  SELECT doc_id, y, CAST(0 AS BIGINT) AS margin FROM lab
             |)""".stripMargin
      else
        sb ++=
          s""", m$r AS MATERIALIZED (
             |  SELECT l.doc_id, l.y,
             |         CAST(COALESCE(SUM(o.cnt * w.w), 0)
             |              + (SELECT wb FROM b${r - 1}) AS BIGINT) AS margin
             |  FROM lab l
             |  LEFT JOIN occ o ON o.doc_id = l.doc_id
             |  LEFT JOIN w${r - 1} w ON w.bucket = o.bucket
             |  GROUP BY 1, 2
             |)""".stripMargin
      if (r <= rounds) {
        sb ++=
          s""", mis$r AS MATERIALIZED (
             |  SELECT doc_id, y FROM m$r WHERE y * margin <= 0
             |), u$r AS MATERIALIZED (
             |  SELECT o.bucket, CAST(SUM(o.y * o.cnt) AS BIGINT) AS dw
             |  FROM occ o JOIN mis$r USING (doc_id) GROUP BY 1
             |)""".stripMargin
        if (r == 1)
          sb ++=
            s""", w1 AS MATERIALIZED (
               |  SELECT bucket, dw AS w FROM u1
               |), b1 AS MATERIALIZED (
               |  SELECT CAST(COALESCE(SUM(y), 0) AS BIGINT) AS wb FROM mis1
               |)""".stripMargin
        else
          sb ++=
            s""", w$r AS MATERIALIZED (
               |  SELECT COALESCE(p.bucket, u.bucket) AS bucket,
               |         CAST(COALESCE(p.w, 0) + COALESCE(u.dw, 0) AS BIGINT) AS w
               |  FROM w${r - 1} p FULL JOIN u$r u ON p.bucket = u.bucket
               |), b$r AS MATERIALIZED (
               |  SELECT (SELECT wb FROM b${r - 1})
               |         + CAST(COALESCE(SUM(y), 0) AS BIGINT) AS wb
               |  FROM mis$r
               |)""".stripMargin
      }
    }
    sb.toString
  }

  private val PerceptronFinalSql: String =
    duckPerceptronCtes(
      graft.operators.Perceptron.Buckets,
      graft.operators.Perceptron.Rounds) +
      s"""
         |SELECT doc_id, y, margin,
         |       CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
         |FROM m${graft.operators.Perceptron.Rounds + 1}""".stripMargin

  private val PerceptronTraceSql: String =
    duckPerceptronCtes(
      graft.operators.Perceptron.Buckets,
      graft.operators.Perceptron.Rounds) + "\n" +
      (1 to graft.operators.Perceptron.Rounds).map { r =>
        s"""SELECT CAST($r AS INTEGER) AS round,
           |       (SELECT CAST(COUNT(*) AS BIGINT) FROM mis$r) AS n_mis,
           |       (SELECT CAST(COUNT(*) AS BIGINT) FROM lab) AS n_docs""".stripMargin
      }.mkString("\nUNION ALL\n")

  /** Unrolled BPE-trainer oracle (q201/q202): the K count-argmax-apply
    * rounds of [[graft.operators.BpeTrainer]] as a CTE chain — round r
    * derives pair counts `p{r}` over the entering vocab, the argmax
    * merge `b{r}` (max count, ties ascending lft/rgt), and the
    * rewritten vocab `v{r}` via the same two literal left-to-right
    * replaces over the space-padded symbol string. Counts are BIGINT
    * and rewrites are literal string ops, so the chain reproduces the
    * learned merges bit-for-bit. The COALESCE(chr(1)) guard makes an
    * exhausted round (no pairs left — never on the fixture corpus) a
    * no-op rewrite instead of a NULL-poisoned vocab.
    *
    * Every CTE is `AS MATERIALIZED` — same 2^rounds-inlining hazard as
    * the perceptron chain (`v{r-1}` feeds both `p{r}` and `v{r}`), and
    * measured at sf0.01: 0.5 s materialized vs >12 min inlined.
    */
  private def duckBpeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++=
      s"""WITH words AS MATERIALIZED (
         |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         |    FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1
         |), v0 AS MATERIALIZED (
         |  SELECT array_to_string(
         |           list_transform(range(1, length(word) + 1), i -> word[i:i]),
         |           ' ') AS syms,
         |         cnt
         |  FROM words
         |)""".stripMargin
    for (r <- 1 to rounds) {
      val pat =
        s"COALESCE((SELECT ' ' || lft || ' ' || rgt || ' ' FROM b$r), chr(1))"
      val rep = s"COALESCE((SELECT ' ' || lft || rgt || ' ' FROM b$r), '')"
      sb ++=
        s""", p$r AS MATERIALIZED (
           |  SELECT s[i] AS lft, s[i + 1] AS rgt,
           |         CAST(SUM(cnt) AS BIGINT) AS pair_count
           |  FROM (SELECT string_split(syms, ' ') AS s, cnt FROM v${r - 1}),
           |       UNNEST(range(1, len(s))) AS u(i)
           |  GROUP BY 1, 2
           |), b$r AS MATERIALIZED (
           |  SELECT lft, rgt, pair_count FROM p$r
           |  ORDER BY pair_count DESC, lft, rgt LIMIT 1
           |), v$r AS MATERIALIZED (
           |  SELECT trim(replace(replace(' ' || syms || ' ', $pat, $rep),
           |              $pat, $rep)) AS syms,
           |         cnt
           |  FROM v${r - 1}
           |)""".stripMargin
    }
    sb.toString
  }

  private val BpeMergeSql: String =
    duckBpeCtes(graft.operators.BpeTrainer.Rounds) + "\n" +
      (1 to graft.operators.BpeTrainer.Rounds).map { r =>
        s"""SELECT CAST($r AS INTEGER) AS round, lft, rgt,
           |       lft || rgt AS merged, pair_count
           |FROM b$r""".stripMargin
      }.mkString("\nUNION ALL\n")

  private val BpeVocabSql: String =
    duckBpeCtes(graft.operators.BpeTrainer.Rounds) + "\n" +
      s"""SELECT token, CAST(SUM(cnt) AS BIGINT) AS total_cnt FROM (
         |  SELECT unnest(string_split(syms, ' ')) AS token, cnt
         |  FROM v${graft.operators.BpeTrainer.Rounds})
         |GROUP BY 1""".stripMargin

  /** q177's oracle: the corpus ENCODE under the trained tokenizer.
    * Reuses the q201/q202 training chain verbatim, then rebuilds the
    * lexicon from the final vocab (`replace(syms, ' ', '')` is
    * lossless — symbols never contain spaces) and joins the exploded
    * corpus words onto it, exactly as
    * [[graft.operators.BpeTrainer.encode]] broadcast-joins.
    */
  private val BpeEncodeSql: String = {
    val R = graft.operators.BpeTrainer.Rounds
    duckBpeCtes(R) + "\n" +
      s""", lex AS MATERIALIZED (
         |  SELECT replace(syms, ' ', '') AS word,
         |         CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_tokens_w
         |  FROM v$R
         |), dw AS (
         |  SELECT doc_id, w AS word FROM (
         |    SELECT doc_id,
         |           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         |    FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$')
         |)
         |SELECT dw.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(lex.n_tokens_w) AS BIGINT) AS n_tokens,
         |       CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars
         |FROM dw JOIN lex ON lex.word = dw.word
         |GROUP BY dw.doc_id""".stripMargin
  }

  /** Unrolled BATCHED-BPE oracle (q203): per round, pair counts `p{r}`
    * truncate to the top-[[graft.operators.BpeTrainer.BatchCandidates]]
    * window `c{r}` (count desc, lft, rgt — the same fixed window the
    * operator collects), slot 1 `ba{r}` is the window's argmax, slot 2
    * `bb{r}` the best window row DISJOINT from slot 1 (neither symbol
    * nor its concatenation may equal slot 1's lft, rgt, or lft||rgt),
    * and `v{r}` applies slot 1's two-pass rewrite then slot 2's —
    * composed exactly as the operator folds [[graft.operators
    * .BpeTrainer.applyMerge]], trim-and-repad between merges included.
    * NOT IN over an empty `bb{r}`/`ba{r}` is vacuously true and the
    * COALESCE(chr(1)) guard turns a missing slot into a no-op rewrite,
    * so short rounds degrade identically in both engines.
    */
  private def duckBpeBatchedCtes(rounds: Int): String = {
    val candN = graft.operators.BpeTrainer.BatchCandidates
    def applied(inner: String, b: String): String = {
      val pat = s"COALESCE((SELECT ' ' || lft || ' ' || rgt || ' ' FROM $b), chr(1))"
      val rep = s"COALESCE((SELECT ' ' || lft || rgt || ' ' FROM $b), '')"
      s"trim(replace(replace(' ' || $inner || ' ', $pat, $rep), $pat, $rep))"
    }
    val sb = new StringBuilder
    sb ++=
      s"""WITH words AS MATERIALIZED (
         |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         |    FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1
         |), v0 AS MATERIALIZED (
         |  SELECT array_to_string(
         |           list_transform(range(1, length(word) + 1), i -> word[i:i]),
         |           ' ') AS syms,
         |         cnt
         |  FROM words
         |)""".stripMargin
    for (r <- 1 to rounds) {
      val usedA =
        s"(SELECT lft FROM ba$r UNION SELECT rgt FROM ba$r UNION SELECT lft || rgt FROM ba$r)"
      sb ++=
        s""", p$r AS MATERIALIZED (
           |  SELECT s[i] AS lft, s[i + 1] AS rgt,
           |         CAST(SUM(cnt) AS BIGINT) AS pair_count
           |  FROM (SELECT string_split(syms, ' ') AS s, cnt FROM v${r - 1}),
           |       UNNEST(range(1, len(s))) AS u(i)
           |  GROUP BY 1, 2
           |), c$r AS MATERIALIZED (
           |  SELECT lft, rgt, pair_count FROM p$r
           |  ORDER BY pair_count DESC, lft, rgt LIMIT $candN
           |), ba$r AS MATERIALIZED (
           |  SELECT lft, rgt, pair_count FROM c$r
           |  ORDER BY pair_count DESC, lft, rgt LIMIT 1
           |), bb$r AS MATERIALIZED (
           |  SELECT lft, rgt, pair_count FROM c$r
           |  WHERE lft NOT IN $usedA
           |    AND rgt NOT IN $usedA
           |    AND lft || rgt NOT IN $usedA
           |  ORDER BY pair_count DESC, lft, rgt LIMIT 1
           |), v$r AS MATERIALIZED (
           |  SELECT ${applied(applied("syms", s"ba$r"), s"bb$r")} AS syms,
           |         cnt
           |  FROM v${r - 1}
           |)""".stripMargin
    }
    sb.toString
  }

  private val BpeBatchedSql: String =
    duckBpeBatchedCtes(graft.operators.BpeTrainer.BatchRounds) + "\n" +
      (1 to graft.operators.BpeTrainer.BatchRounds).flatMap { r =>
        Seq(
          s"""SELECT CAST($r AS INTEGER) AS round, CAST(1 AS INTEGER) AS slot,
             |       lft, rgt, lft || rgt AS merged, pair_count
             |FROM ba$r""".stripMargin,
          s"""SELECT CAST($r AS INTEGER) AS round, CAST(2 AS INTEGER) AS slot,
             |       lft, rgt, lft || rgt AS merged, pair_count
             |FROM bb$r""".stripMargin)
      }.mkString("\nUNION ALL\n")

  /** q206 per-source budget in learned tokens (~5 docs/source on the
    * fixture at ~600 learned tokens/doc — the selection genuinely
    * cuts). Declared BEFORE `all`: its doc string interpolates at
    * initialization (the q204-threshold lesson — a forward reference
    * would bake 0 into the rendered doc).
    */
  private val BpeBudget = 3000L

  val all: Seq[Q] = Seq(
    Q(
      "q180_dsir_weights",
      "DSIR-style importance weights: every word occurrence hashed into " +
        s"$DsirB buckets, per-bucket target (lang='en') vs raw masses " +
        "estimated corpus-wide, each document scored by its smoothed " +
        "mass ratio (target_mass+n)/(raw_mass+n). The learned state is a " +
        s"constant $DsirB-row table broadcast to the probe pass — nothing " +
        "but (doc_id)-keyed partial aggregates ever shuffles, at any " +
        "corpus size. Feed dsir_weight to q89's weighted sampler for the " +
        "selection step.",
      Some(dsirSql),
      (spark, dir) =>
        ImportanceModels.dsirWeights(
          Tables.documents(spark, dir), "text", "doc_id",
          targetPred = col("lang") === "en")
    ),
    Q(
      "q181_bigram_lm_score",
      "Reference-bigram-LM scoring (CCNet-style): add-one-smoothed hashed-" +
        s"bigram counts ($LmB buckets) trained on the lang='en' slice, " +
        "every document (with >= 1 bigram) scored by mean smoothed bigram " +
        "probability (lm_hits+n)/(n*(total+B)) — exact integer masses, one " +
        "final division, so the differential oracle checks the score " +
        "bit-for-bit. The LM is a sub-MB broadcast table; occurrences " +
        "shuffle once onto doc_id with map-side combine.",
      Some(lmSql),
      (spark, dir) =>
        ImportanceModels.bigramLmScore(
          Tables.documents(spark, dir), "text", "doc_id",
          trainPred = col("lang") === "en")
    ),
    Q(
      "q182_filter_fusion",
      "FineWeb-style rule-filter ensemble: the q49/q51/q52 signals fused " +
        "into one keep/drop verdict per document with the failed checks " +
        "named in a deterministic comma-joined reasons string — the " +
        "drop-mass audit a pipeline reports per source. Pure codegen'd " +
        "projection, no shuffle at any scale.",
      Some(fusionSql),
      (spark, dir) =>
        ImportanceModels.filterFusion(
          Tables.documents(spark, dir), "text", "doc_id", "lang")
    ),
    Q(
      "q183_drop_mass_report",
      "Per-source drop-mass audit over the q182 verdicts: how many " +
        "documents each source loses to each failed check (a document " +
        "failing k checks counts once per check — the per-rule view a " +
        "pipeline tunes thresholds against). Verdicts are a narrow " +
        "projection; the only shuffle is the (source, reason)-keyed " +
        "count, output size = sources x rules regardless of corpus size.",
      Some(
        """SELECT source, reason, COUNT(*) AS n_docs
          |FROM (
          |  SELECT source, unnest(string_split(reasons, ',')) AS reason
          |  FROM (
          |""".stripMargin +
          indent(fusionSql, "    ") +
          """
          |  ) v JOIN documents USING (doc_id)
          |  WHERE NOT keep
          |)
          |GROUP BY source, reason""".stripMargin),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        ImportanceModels.filterFusion(docs, "text", "doc_id", "lang")
          .filter(!col("keep"))
          .join(docs.select("doc_id", "source"), Seq("doc_id"))
          .select(col("source"),
            explode(split(col("reasons"), ",")).as("reason"))
          .groupBy("source", "reason")
          .agg(count(lit(1)).as("n_docs"))
      }
    ),
    Q(
      "q184_lm_quality_tiers",
      "CCNet-style quality tiers: per-language deciles of the q181 " +
        "reference-LM score (NTILE(10) over (lm_score, doc_id) — the " +
        "id tiebreak makes tier assignment deterministic). Partitioned " +
        "window, so each language sorts independently — no global " +
        "single-task sort at any corpus size; downstream keeps the top " +
        "tiers per language (the head/middle/tail split).",
      Some(
        """SELECT doc_id, lang, lm_score,
          |       CAST(NTILE(10) OVER (PARTITION BY lang
          |                            ORDER BY lm_score, doc_id) AS INTEGER) AS tier
          |FROM (
          |""".stripMargin +
          indent(lmSql, "  ") +
          """
          |) s JOIN documents USING (doc_id)""".stripMargin),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(spark, dir)
        ImportanceModels
          .bigramLmScore(docs, "text", "doc_id", trainPred = col("lang") === "en")
          .join(docs.select("doc_id", "lang"), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("lm_score"),
            ntile(10).over(
              Window.partitionBy("lang").orderBy("lm_score", "doc_id"))
              .as("tier"))
      }
    ),
    Q(
      "q185_dsir_budget",
      "DSIR-weighted selection under a token budget: per source, keep " +
        "the most target-like documents (q180 weights, (weight DESC, " +
        "doc_id) total order) until an 800-token budget fills — the " +
        "domain-mixture assembly step DSIR exists for. Selection runs " +
        "through the exact two-phase SHARDED prefix sum (the q92 " +
        "primitive), so no source serializes through a single window " +
        "task at any corpus size.",
      Some(
        s"""SELECT doc_id, source, dsir_weight, ws_tokens, cum_tokens FROM (
           |  SELECT w.doc_id, d.source, w.dsir_weight,
           |         w.n_toks AS ws_tokens,
           |         CAST(SUM(w.n_toks) OVER (
           |           PARTITION BY d.source
           |           ORDER BY w.dsir_weight DESC, w.doc_id
           |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           |  FROM (
           |${indent(dsirSql, "  ")}
           |  ) w JOIN documents d USING (doc_id)
           |)
           |WHERE cum_tokens <= 800""".stripMargin),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val scored = ImportanceModels
          .dsirWeights(docs, "text", "doc_id", targetPred = col("lang") === "en")
          .join(docs.select("doc_id", "source"), Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("dsir_weight"),
            col("n_toks").as("ws_tokens"))
        graft.operators.Sampling.fillTokenBudgetSharded(
            scored, "source", "dsir_weight", "doc_id", "ws_tokens", budget = 800L)
          .select("doc_id", "source", "dsir_weight", "ws_tokens", "cum_tokens")
      }
    ),
    Q(
      "q193_model_agreement",
      "Per-source Spearman rank agreement between the two scoring " +
        "models (q180 DSIR weights vs q181 reference-LM scores) — the " +
        "model-validation query read before trusting either score " +
        "alone: high agreement lets the cheap score gate for the " +
        "expensive one, low agreement says a fused verdict needs both. " +
        "Both scores are bit-exact integers-plus-one-division, so the " +
        "(score DESC, id) rankings are engine-exact; sum_d2 is BIGINT; " +
        "the correlation is one multiply, one divide, one subtract on " +
        "exactly-representable operands. The rank windows PARTITION BY " +
        "source (no corpus-wide single-task window) and the oracle " +
        "re-embeds the q180/q181 bodies so the three can never drift.",
      Some(
        s"""WITH dw AS (
           |${indent(dsirSql, "  ")}
           |), ls AS (
           |${indent(lmSql, "  ")}
           |), j AS (
           |  SELECT d.source,
           |         row_number() OVER (PARTITION BY d.source
           |                            ORDER BY dw.dsir_weight DESC, dw.doc_id) AS r1,
           |         row_number() OVER (PARTITION BY d.source
           |                            ORDER BY ls.lm_score DESC, ls.doc_id) AS r2
           |  FROM dw JOIN ls USING (doc_id) JOIN documents d USING (doc_id)
           |)
           |SELECT source,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2,
           |       CASE WHEN count(*) >= 2 THEN
           |         1.0 - (6.0 * CAST(sum((r1 - r2) * (r1 - r2)) AS DOUBLE))
           |             / CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE)
           |       ELSE NULL END AS spearman
           |FROM j GROUP BY source""".stripMargin),
      (spark, dir) =>
        ImportanceModels.modelRankAgreement(
          Tables.documents(spark, dir), "text", "doc_id", "source",
          targetPred = col("lang") === "en",
          trainPred = col("lang") === "en")
    ),
    Q(
      "q199_perceptron_score",
      "Trained discriminative classifier (batch perceptron, " +
        s"${graft.operators.Perceptron.Rounds} rounds over " +
        s"${graft.operators.Perceptron.Buckets} hashed token-count " +
        "features + bias): the fastText-style quality/language gate " +
        "beside DSIR (q180) and the reference LM (q181). All-integer " +
        "training — misclassified means y*(w.x+b) <= 0, updates are " +
        "integer count sums — so the unrolled-round oracle checks the " +
        "TRAINED model bit-for-bit, margins included. The model is " +
        "buckets+1 longs collected per round (bounded plan scalars, " +
        "never data); the feature table shuffles twice per round " +
        "(doc-keyed margins with map-side combine, bucket-keyed " +
        "update), and scoring is one more margin pass — nothing " +
        "driver-side scales with the corpus.",
      Some(PerceptronFinalSql),
      (spark, dir) =>
        graft.operators.Perceptron.trainScore(
          Tables.documents(spark, dir), "text", "doc_id",
          targetPred = col("lang") === "en")
    ),
    Q(
      "q200_perceptron_trace",
      "Per-round perceptron training-error trace (round, n_mis, " +
        "n_docs), measured under the weights ENTERING each round — " +
        "the convergence audit read before trusting q199's gate " +
        "(round 1 is all-misclassified by construction: zero weights " +
        "put every doc on the boundary and the boundary counts as " +
        "wrong). Same unrolled integer chain as q199's oracle, so the " +
        "two can never drift.",
      Some(PerceptronTraceSql),
      (spark, dir) =>
        graft.operators.Perceptron.errorTrace(
          Tables.documents(spark, dir), "text", "doc_id",
          targetPred = col("lang") === "en")
    ),
    Q(
      "q201_bpe_train",
      "Trained subword tokenizer (iterated BPE merge learning, " +
        s"${graft.operators.BpeTrainer.Rounds} rounds): the " +
        "vocabulary-building stage beside the trained classifier " +
        "(q199) — q96 counts symbol pairs once; this LEARNS the merge " +
        "table by iterating count-argmax-apply over the (distinct " +
        "word, count) vocabulary. All-integer counts and literal " +
        "string rewrites, so the unrolled-round oracle checks the " +
        "learned merges bit-for-bit (ties broken ascending lft/rgt; " +
        "application is two left-to-right literal replaces — see " +
        "BpeTrainer's scaladoc for the exact-greedy caveat on 3+ " +
        "same-symbol runs). Scale: the corpus is scanned ONCE for " +
        "word counts; every round is a vocab-level aggregation " +
        "(Zipf-bounded) plus a LIMIT-1 collect (the model row, never " +
        "data).",
      Some(BpeMergeSql),
      (spark, dir) =>
        graft.operators.BpeTrainer.mergeTable(
          Tables.documents(spark, dir), "text")
    ),
    Q(
      "q214_bpe_incremental",
      "Incremental tokenizer maintenance — the trainer joins the " +
        "engine's incremental discipline (components / IVF delta " +
        "segments / stored-sketch folds): the even-id half of the " +
        "corpus is the SERVED state (its raw word-count vocabulary, " +
        "the trainer's whole dependence on the corpus), the odd-id " +
        "half arrives later and FOLDS in at delta scan cost " +
        "(word counts are additive, the char-split syms key is a pure " +
        "function of the word), and retraining runs at vocabulary " +
        "cost — the served corpus is never rescanned. The oracle is " +
        "q201's OWN unrolled full-corpus SQL verbatim: fold-then-train " +
        "must reproduce the from-scratch merge table bit-for-bit, the " +
        "strongest differential check the registry has (the q145/q154 " +
        "refresh==rebuild device, applied to the tokenizer).",
      Some(BpeMergeSql),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val stored = graft.operators.BpeTrainer.vocab(
          docs.filter(col("doc_id") % 2 === 0), "text")
        graft.operators.BpeTrainer.mergeTableFromVocab(
          graft.operators.BpeTrainer.vocabFold(
            stored, docs.filter(col("doc_id") % 2 === 1), "text"))
      }
    ),
    Q(
      "q202_bpe_vocab",
      "Corpus token frequencies under the FINAL learned BPE " +
        "vocabulary (token, total_cnt) — the tokenizer artifact a " +
        "training pipeline ships: the token space is alphabet + " +
        "learned merges, bounded by construction at any corpus size. " +
        "Same unrolled chain as q201's oracle, so the two can never " +
        "drift.",
      Some(BpeVocabSql),
      (spark, dir) =>
        graft.operators.BpeTrainer.tokenFrequencies(
          Tables.documents(spark, dir), "text")
    ),
    Q(
      "q177_bpe_encode",
      "Corpus ENCODE under the trained tokenizer — the production step " +
        "a pipeline runs after q201's training: per doc (n_words, " +
        "n_tokens, n_chars) where n_tokens counts each ^[a-z]+$ word's " +
        "tokens under the final merged vocabulary, the integer " +
        "numerator/denominator of the tokens-per-word and chars-per-" +
        "token compression ratios. The lexicon (distinct word -> token " +
        "count) is rebuilt LOSSLESSLY from the trained vocab " +
        "(replace(syms, ' ', '') — symbols never contain spaces) and " +
        "broadcast-hash-joined from the exploded corpus words: training " +
        "never re-runs per doc, and nothing but (doc_id)-keyed partial " +
        "aggregates ever shuffles, at any corpus size. (This id also " +
        "closes the registry's historical q176 -> q178 numbering skip.)",
      Some(BpeEncodeSql),
      (spark, dir) =>
        graft.operators.BpeTrainer.encode(
          Tables.documents(spark, dir), "text", "doc_id")
    ),
    Q(
      "q203_bpe_batched",
      "BATCHED BPE training — the merge-throughput face of q201: each " +
        s"round accepts up to ${graft.operators.BpeTrainer.BatchK} " +
        "pairwise-DISJOINT merges (neither symbol nor the concatenation " +
        "may collide with an earlier acceptance's symbols or " +
        "concatenation) from a fixed top-" +
        s"${graft.operators.BpeTrainer.BatchCandidates} candidate " +
        "window, so a production vocabulary costs rounds/K Spark jobs " +
        "instead of one per merge. Disjointness makes the batch " +
        "order-independent and every recorded pair_count exact at its " +
        "application point; batchK = 1 degenerates to q201's exact " +
        "greedy (spec-pinned). The oracle unrolls window, both slots, " +
        "and the composed two-pass rewrites bit-for-bit.",
      Some(BpeBatchedSql),
      (spark, dir) =>
        graft.operators.BpeTrainer.mergeTableBatched(
          Tables.documents(spark, dir), "text")
    ),
    Q(
      "q207_curation_capstone_v2",
      "Second capstone — the r16 curation chain end-to-end in ONE " +
        "oracle-checked query: the q204 repetition screen gates the " +
        "corpus (looped/stuffed docs out), survivors score with the " +
        "q50 quality stack, and each source fills its q206 budget in " +
        "LEARNED tokenizer tokens, so the running total only counts " +
        "documents that survived every upstream screen. Shape: two " +
        "doc-keyed gram shuffles (screen) + the one-shot broadcast " +
        "lexicon + one source-keyed window - the corpus itself " +
        "shuffles once, on the selection key.",
      Some(CurationV2Sql),
      (spark, dir) => {
        import graft.operators.TextAnalysis
        val docs = Tables.documents(spark, dir)
        val keep = TextAnalysis.repetitionStats(
            docs, "doc_id", "text",
            TextQueries.RepTopWordMax, TextQueries.RepDup3Max)
          .filter(col("keep")).select("doc_id")
        val enc = BpeEncPhases.encoded(spark, dir)
          .select(col("doc_id"), col("n_tokens"))
        val scored = docs.select(
            col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .join(keep, Seq("doc_id"), "left_semi")
          .join(enc, Seq("doc_id"))
        graft.operators.Sampling.fillTokenBudget(
          scored, "source", "quality", "doc_id", "n_tokens",
          budget = BpeBudget)
      }
    ),
    Q(
      "q213_curation_capstone_v3",
      "Third capstone — the first CROSS-MODAL selection: the q207 " +
        "chain (q204 repetition screen -> q50 quality -> q206 " +
        "learned-token budget) with the q208 SEMANTIC gate added — a " +
        "document survives only if its embedding also survives " +
        "SemDeDup, so the budget window counts documents screened in " +
        "BOTH modalities (surface text AND meaning). Shape: v2's plan " +
        "plus one more left-semi probe (the semantic kept set is " +
        "doc-keyed like the repetition keep set, and the two semis " +
        "share the doc_id exchange); the embedding side never " +
        "shuffles its vectors into the text plan — only the kept ids " +
        "cross, served from the STORED kept-id table (SemKeptPhases) " +
        "and the STORED corpus encode (BpeEncPhases), the artifacts a " +
        "deployment refreshes beside the index. Oracle: the v2 text " +
        "with the sd* kept-set CTEs " +
        "rendered from SimilarityQueries' own q208 templates, so the " +
        "capstone cannot drift from the standalone faces.",
      Some(CurationV3Sql),
      (spark, dir) => {
        import graft.operators.TextAnalysis
        val docs = Tables.documents(spark, dir)
        val keep = TextAnalysis.repetitionStats(
            docs, "doc_id", "text",
            TextQueries.RepTopWordMax, TextQueries.RepDup3Max)
          .filter(col("keep")).select("doc_id")
        val semKept = SemKeptPhases.kept(spark, dir)
        val enc = BpeEncPhases.encoded(spark, dir)
          .select(col("doc_id"), col("n_tokens"))
        val scored = docs.select(
            col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .join(keep, Seq("doc_id"), "left_semi")
          .join(semKept, Seq("doc_id"), "left_semi")
          .join(enc, Seq("doc_id"))
        graft.operators.Sampling.fillTokenBudget(
          scored, "source", "quality", "doc_id", "n_tokens",
          budget = BpeBudget)
      },
      bench = Seq(
        Phase.build("semkept_build")(SemKeptPhases.buildStored),
        Phase.Self)
    ),
    Q(
      "q206_bpe_token_budget",
      "Token-budget curation measured in LEARNED tokenizer tokens: " +
        "q87's greedy per-source budget fill, but the cost of a " +
        "document is its q177 encode count under the trained BPE " +
        "vocabulary — the production semantic (a context window holds " +
        "real tokenizer tokens, not whitespace words; budgeting in " +
        s"ws-tokens misprices every doc). Budget $BpeBudget per " +
        "source, (quality DESC, doc_id) total order, docs with no " +
        "encodable word absent by the encode contract. The corpus " +
        "encode is a STORED artifact (BpeEncPhases — trained and " +
        "materialized once per ingest, probed by every learned-token " +
        "consumer; q177 remains the face that pays the full encode); " +
        "the selection itself is one source-keyed window — same scale " +
        "shape as q87/q92 (the sharded two-phase form applies " +
        "unchanged when a source outgrows one task).",
      Some(BpeBudgetSql),
      (spark, dir) => {
        import graft.operators.TextAnalysis
        val docs = Tables.documents(spark, dir)
        val enc = BpeEncPhases.encoded(spark, dir)
          .select(col("doc_id"), col("n_tokens"))
        val scored = docs.select(
            col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .join(enc, Seq("doc_id"))
        graft.operators.Sampling.fillTokenBudget(
          scored, "source", "quality", "doc_id", "n_tokens",
          budget = BpeBudget)
      },
      bench = Seq(
        Phase.build("bpeenc_build")(BpeEncPhases.buildStored),
        Phase.Self)
    ),
    Q(
      "q209_token_fertility_screen",
      "Tokenizer-fertility quality screen — the perplexity-lite " +
        "gibberish filter run with the pipeline's OWN trained " +
        "tokenizer: per doc, q177's (n_chars, n_tokens) and a kept " +
        "verdict at chars-per-token >= " +
        s"${graft.operators.BpeTrainer.FertilityNum}/" +
        s"${graft.operators.BpeTrainer.FertilityDen} as the " +
        "cross-multiplied integer compare (no ratio division at the " +
        "boundary). Text that compresses badly under the corpus's " +
        "learned merges is structurally unlike the corpus that " +
        "trained them — a quality signal the q50 surface statistics " +
        "can't see. Threshold sits at ~p4 of the fixture ratio " +
        "distribution, so the screen cuts. Served from the STORED " +
        "corpus encode (BpeEncPhases): the verdict is a narrow map " +
        "over the materialized tokenizer pass, no re-training.",
      Some(BpeFertilitySql),
      (spark, dir) =>
        graft.operators.BpeTrainer.fertilityFromEncode(
          BpeEncPhases.encoded(spark, dir), "doc_id")
    ),
    Q(
      "q217_curation_funnel",
      "Stage-survival funnel over the q213 cross-modal chain — the " +
        "pipeline-observability rollup a curation run publishes: one " +
        "row per stage (encodable corpus -> q204 repetition screen -> " +
        "q208 semantic gate -> q206 learned-token budget) with " +
        "surviving doc count and learned-token mass, so 'where did my " +
        "tokens go' is a tracked number instead of four ad-hoc " +
        "queries. All counts exact BIGINTs; token mass is the budget " +
        "currency (q177 encode counts). Shape: q213's probes become " +
        "flag joins on the SAME single doc_id exchange, the budget " +
        "verdict is one conditional-sum window over survivors (sum " +
        "ignores non-survivor nulls, so the running total equals the " +
        "filtered window's), and all four stages aggregate in ONE " +
        "pass exploded to tall rows — the corpus is never re-scanned " +
        "per stage. Oracle renders from the same CTE templates as " +
        "q206/q207/q213, so the funnel cannot drift from the faces " +
        "it summarizes.",
      Some(CurationFunnelSql),
      (spark, dir) => {
        import graft.operators.TextAnalysis
        val docs = Tables.documents(spark, dir)
        val rep = TextAnalysis.repetitionStats(
            docs, "doc_id", "text",
            TextQueries.RepTopWordMax, TextQueries.RepDup3Max)
          .select(col("doc_id"), col("keep").as("rep_keep"))
        val sem = SemKeptPhases.kept(spark, dir)
          .withColumn("sem_keep", lit(true))
        val enc = BpeEncPhases.encoded(spark, dir)
          .select(col("doc_id"), col("n_tokens"))
        val surv = col("rep_keep") && col("sem_keep")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val marked = docs.select(
            col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .join(enc, Seq("doc_id"))
          .join(rep, Seq("doc_id"))
          .join(sem, Seq("doc_id"), "left")
          .withColumn("sem_keep", coalesce(col("sem_keep"), lit(false)))
          .withColumn("admitted",
            surv && sum(when(surv, col("n_tokens"))).over(w) <= BpeBudget)
        def cnt(c: org.apache.spark.sql.Column) =
          count(when(c, lit(1)))
        def tok(c: org.apache.spark.sql.Column) =
          coalesce(sum(when(c, col("n_tokens"))), lit(0L))
        marked.agg(
            cnt(lit(true)).as("c1"), tok(lit(true)).as("t1"),
            cnt(col("rep_keep")).as("c2"), tok(col("rep_keep")).as("t2"),
            cnt(surv).as("c3"), tok(surv).as("t3"),
            cnt(col("admitted")).as("c4"), tok(col("admitted")).as("t4"))
          .select(explode(array(
            struct(lit("1_encodable").as("stage"),
              col("c1").as("n_docs"), col("t1").as("n_tokens")),
            struct(lit("2_repetition").as("stage"),
              col("c2").as("n_docs"), col("t2").as("n_tokens")),
            struct(lit("3_semantic").as("stage"),
              col("c3").as("n_docs"), col("t3").as("n_tokens")),
            struct(lit("4_budget").as("stage"),
              col("c4").as("n_docs"), col("t4").as("n_tokens")))).as("s"))
          .select(col("s.stage").as("stage"),
            col("s.n_docs").as("n_docs"), col("s.n_tokens").as("n_tokens"))
      }
    ),
    Q(
      "q225_rejection_reasons",
      "Rejection-reason OVERLAP matrix — the screen-redundancy " +
        "diagnostic q217's sequential funnel cannot show: per document " +
        "the BITMASK of independent screens it fails (1 = q204 " +
        "repetition, 2 = q50 quality < 0.5, 4 = q208 semantic, 8 = " +
        "q209 fertility), rolled up to (reason_mask, n_docs, " +
        "n_tokens). Mask 0 is the every-screen survivor pool; " +
        "single-bit masks are documents ONLY that screen catches — a " +
        "screen whose unique-catch mass is ~0 is redundant and its " +
        "cost is free to cut, which is how a pipeline decides what to " +
        "run at 100 TB. All verdicts are the standalone faces' own " +
        "integer-exact predicates on one flag-joined frame (single " +
        "doc_id exchange, the q213/q217 shape); at most 16 output " +
        "rows. Oracle renders from the same CTE templates as the " +
        "faces, so the matrix cannot drift from them.",
      Some(RejectionReasonsSql),
      (spark, dir) => {
        import graft.operators.TextAnalysis
        val docs = Tables.documents(spark, dir)
        val rep = TextAnalysis.repetitionStats(
            docs, "doc_id", "text",
            TextQueries.RepTopWordMax, TextQueries.RepDup3Max)
          .select(col("doc_id"), col("keep").as("rep_keep"))
        val sem = SemKeptPhases.kept(spark, dir)
          .withColumn("sem_keep", lit(true))
        val enc = BpeEncPhases.encoded(spark, dir)
          .select(col("doc_id"), col("n_tokens"), col("n_chars"))
        val fn = graft.operators.BpeTrainer.FertilityNum
        val fd = graft.operators.BpeTrainer.FertilityDen
        docs.select(
            col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .join(enc, Seq("doc_id"))
          .join(rep, Seq("doc_id"))
          .join(sem, Seq("doc_id"), "left")
          .withColumn("sem_keep", coalesce(col("sem_keep"), lit(false)))
          .select(
            col("n_tokens"),
            (when(!col("rep_keep"), 1L).otherwise(0L)
              + when(col("quality") < 0.5, 2L).otherwise(0L)
              + when(!col("sem_keep"), 4L).otherwise(0L)
              + when(col("n_chars") * fd < col("n_tokens") * fn, 8L)
                .otherwise(0L)).as("reason_mask"))
          .groupBy(col("reason_mask"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"))
      }
    )
  )

  /** q209's oracle: q177's encode chain with the integer fertility
    * verdict on top — rendered from the same [[BpeEncodeSql]] text, so
    * the two can never drift.
    */
  private lazy val BpeFertilitySql: String = {
    val num = graft.operators.BpeTrainer.FertilityNum
    val den = graft.operators.BpeTrainer.FertilityDen
    s"""SELECT doc_id, n_chars, n_tokens,
       |       n_chars * $den >= n_tokens * $num AS kept
       |FROM (
       |$BpeEncodeSql
       |)""".stripMargin
  }

  /** q206's oracle: the q201 training chain -> lexicon -> per-doc
    * learned token counts, joined with q87's quality CTE and run
    * through the same budget window.
    */
  private lazy val BpeBudgetSql: String =
    bpeEncQualityCtes + "\n" + s"""SELECT doc_id, source, quality, n_tokens, cum_tokens FROM (
         |  SELECT sq.doc_id, sq.source, sq.quality, enc.n_tokens,
         |         CAST(SUM(enc.n_tokens) OVER (
         |           PARTITION BY sq.source ORDER BY sq.quality DESC, sq.doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM sq JOIN enc ON enc.doc_id = sq.doc_id)
         |WHERE cum_tokens <= $BpeBudget""".stripMargin

  /** q207's oracle: the SAME encode + quality chain, but the budget
    * window runs only over the q204 repetition screen's keep set
    * (rk_* CTEs — the compact keep-only form of the q204 formula,
    * thresholds shared via the TextQueries constants so the two
    * renderings cannot drift on the operating point). SQL WHERE applies
    * before window functions, so the running total counts survivors
    * only — exactly the Spark side's semi-join-then-window.
    */
  private lazy val CurationV2Sql: String =
    bpeEncQualityCtes + "\n" + repetitionKeepCtes + "\n" +
      s"""SELECT doc_id, source, quality, n_tokens, cum_tokens FROM (
         |  SELECT sq.doc_id, sq.source, sq.quality, enc.n_tokens,
         |         CAST(SUM(enc.n_tokens) OVER (
         |           PARTITION BY sq.source ORDER BY sq.quality DESC, sq.doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM sq JOIN enc ON enc.doc_id = sq.doc_id
         |  WHERE sq.doc_id IN (SELECT doc_id FROM rk_keep))
         |WHERE cum_tokens <= $BpeBudget""".stripMargin

  /** q213's oracle: the v2 chain with the q208 semantic gate added —
    * the sd* kept-set CTEs render from SimilarityQueries' own
    * templates, so the capstone cannot drift from the standalone q208
    * face; both gates apply in the WHERE (before the window), so the
    * running budget total counts documents that survived every screen
    * in BOTH modalities.
    */
  private lazy val CurationV3Sql: String =
    bpeEncQualityCtes + "\n" + repetitionKeepCtes + ",\n" +
      SimilarityQueries.semDedupKeptCteSql + "\n" +
      s"""SELECT doc_id, source, quality, n_tokens, cum_tokens FROM (
         |  SELECT sq.doc_id, sq.source, sq.quality, enc.n_tokens,
         |         CAST(SUM(enc.n_tokens) OVER (
         |           PARTITION BY sq.source ORDER BY sq.quality DESC, sq.doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM sq JOIN enc ON enc.doc_id = sq.doc_id
         |  WHERE sq.doc_id IN (SELECT doc_id FROM rk_keep)
         |    AND sq.doc_id IN (SELECT vec_id FROM sdkept))
         |WHERE cum_tokens <= $BpeBudget""".stripMargin

  /** q217's oracle: the same encode/quality/repetition/semantic CTE
    * templates as q206/q207/q213 (so the funnel cannot drift from the
    * faces it summarizes), flag-joined once, with the budget stage's
    * running total windowed over survivors and all four stages
    * UNION ALL'd.
    */
  private lazy val CurationFunnelSql: String =
    bpeEncQualityCtes + "\n" + repetitionKeepCtes + ",\n" +
      SimilarityQueries.semDedupKeptCteSql + ",\n" +
      s"""fl AS (
         |  SELECT sq.doc_id, sq.source, sq.quality, enc.n_tokens,
         |         sq.doc_id IN (SELECT doc_id FROM rk_keep) AS rep_keep,
         |         sq.doc_id IN (SELECT vec_id FROM sdkept) AS sem_keep
         |  FROM sq JOIN enc ON enc.doc_id = sq.doc_id
         |), adm AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(SUM(n_tokens) OVER (
         |           PARTITION BY source ORDER BY quality DESC, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM fl WHERE rep_keep AND sem_keep
         |)
         |SELECT stage, n_docs, n_tokens FROM (
         |  SELECT '1_encodable' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS n_tokens FROM fl
         |  UNION ALL
         |  SELECT '2_repetition', CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM fl WHERE rep_keep
         |  UNION ALL
         |  SELECT '3_semantic', CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM fl WHERE rep_keep AND sem_keep
         |  UNION ALL
         |  SELECT '4_budget', CAST(COUNT(*) AS BIGINT),
         |         CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) FROM adm WHERE cum_tokens <= $BpeBudget
         |)""".stripMargin

  /** q225's oracle: the shared encode/quality CTEs + the repetition
    * keep set + the q208 semantic kept set, flag-joined once, bitmask
    * by the same integer predicates, 16-row rollup.
    */
  private lazy val RejectionReasonsSql: String = {
    val fn = graft.operators.BpeTrainer.FertilityNum
    val fd = graft.operators.BpeTrainer.FertilityDen
    bpeEncQualityCtes + "\n" + repetitionKeepCtes + ",\n" +
      SimilarityQueries.semDedupKeptCteSql + "\n" +
      s"""SELECT CAST(reason_mask AS BIGINT) AS reason_mask,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |FROM (
         |  SELECT enc.n_tokens,
         |         (CASE WHEN sq.doc_id IN (SELECT doc_id FROM rk_keep) THEN 0 ELSE 1 END)
         |         + (CASE WHEN sq.quality < 0.5 THEN 2 ELSE 0 END)
         |         + (CASE WHEN sq.doc_id IN (SELECT vec_id FROM sdkept) THEN 0 ELSE 4 END)
         |         + (CASE WHEN enc.n_chars * $fd < enc.n_tokens * $fn THEN 8 ELSE 0 END)
         |           AS reason_mask
         |  FROM sq JOIN enc ON enc.doc_id = sq.doc_id)
         |GROUP BY 1""".stripMargin
  }

  /** The q204 repetition screen's keep set as a composable CTE block
    * (rk_* — the compact keep-only form of the q204 formula,
    * thresholds shared via the TextQueries constants so renderings
    * cannot drift on the operating point). Shared by the v2/v3
    * capstone oracles.
    */
  private lazy val repetitionKeepCtes: String =
    s""", rk_t AS MATERIALIZED (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
       |), rk_base AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks FROM rk_t
       |), rk_w AS (
       |  SELECT doc_id, MAX(c) AS topw FROM (
       |    SELECT doc_id, COUNT(*) AS c
       |    FROM (SELECT doc_id, unnest(t) AS w FROM rk_t) GROUP BY doc_id, w)
       |  GROUP BY doc_id
       |), rk_g3 AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS m3 FROM (
       |    SELECT doc_id, COUNT(*) AS c FROM (
       |      SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
       |      FROM rk_t, UNNEST(range(1, len(t) - 1)) AS u(i)) GROUP BY doc_id, g)
       |  WHERE c >= 2 GROUP BY doc_id
       |), rk_keep AS (
       |  SELECT b.doc_id
       |  FROM rk_base b LEFT JOIN rk_w USING (doc_id) LEFT JOIN rk_g3 USING (doc_id)
       |  WHERE (CASE WHEN b.n_toks > 0
       |              THEN CAST(COALESCE(rk_w.topw, 0) AS DOUBLE) / CAST(b.n_toks AS DOUBLE)
       |              ELSE 0.0 END) <= ${graft.queries.TextQueries.RepTopWordMax}
       |    AND (CASE WHEN b.n_toks - 2 > 0
       |              THEN CAST(COALESCE(rk_g3.m3, 0) AS DOUBLE) / CAST(b.n_toks - 2 AS DOUBLE)
       |              ELSE 0.0 END) <= ${graft.queries.TextQueries.RepDup3Max}
       |)""".stripMargin

  /** Shared q206/q207 oracle prefix: training chain -> lexicon -> enc
    * (per-doc learned token counts) -> tq/sq (q87's quality CTE).
    */
  private lazy val bpeEncQualityCtes: String = {
    val R = graft.operators.BpeTrainer.Rounds
    duckBpeCtes(R) + "\n" +
      s""", lex AS MATERIALIZED (
         |  SELECT replace(syms, ' ', '') AS word,
         |         CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_tokens_w
         |  FROM v$R
         |), dw AS (
         |  SELECT doc_id, w AS word FROM (
         |    SELECT doc_id,
         |           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
         |    FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$')
         |), enc AS (
         |  SELECT dw.doc_id, CAST(SUM(lex.n_tokens_w) AS BIGINT) AS n_tokens,
         |         CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars
         |  FROM dw JOIN lex ON lex.word = dw.word
         |  GROUP BY dw.doc_id
         |), tq AS (
         |  SELECT doc_id, source,
         |         CAST(LENGTH(text) AS DOUBLE) AS chars,
         |         CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS toks,
         |         len(regexp_extract_all(text, '[.!?,;:]')) AS punct,
         |         len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b')) AS stops
         |  FROM documents
         |), sq AS (
         |  SELECT doc_id, source,
         |         ((CASE WHEN chars / greatest(toks, 1.0) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
         |          + (CASE WHEN CAST(punct AS DOUBLE) / greatest(toks, 1.0) <= 0.3 THEN 1.0 ELSE 0.0 END)
         |          + (CASE WHEN CAST(stops AS DOUBLE) / greatest(toks, 1.0) >= 0.05 THEN 1.0 ELSE 0.0 END)
         |          + (CASE WHEN chars BETWEEN 50.0 AND 100000.0 THEN 1.0 ELSE 0.0 END)) / 4.0 AS quality
         |  FROM tq
         |)""".stripMargin
  }
}

/** The stored corpus-ENCODE artifact behind every learned-token
  * consumer (q206/q207/q209/q213/q217/q225): (doc_id, n_words,
  * n_tokens, n_chars) under the trained vocabulary, persisted once per
  * input dir. A pipeline materializes the tokenizer pass ONCE and
  * every downstream budget / screen / capstone / report probes it —
  * the q198 stored-probe discipline applied to the tokenizer seam.
  * Before this split each consumer re-ran the full BPE training +
  * corpus encode inside its own plan (~6 trainings per bench/verify
  * pass for one deterministic artifact). q177 remains the face that
  * pays the full encode; q201-q203/q214 remain the training faces;
  * the oracles are untouched (they re-derive the chain from scratch,
  * so stored == fresh is hash-checked on every consumer, every round).
  */
object BpeEncPhases {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  def encTable(dir: String): String = s"graft_bpeenc_${Q.scratchTag(dir)}"

  /** Writes the encode, then frees its checkpointed leaf. */
  def buildStored(spark: SparkSession, dir: String): Unit = {
    val enc = graft.operators.BpeTrainer
      .encode(Tables.documents(spark, dir), "text", "doc_id")
    try Products.store(enc, encTable(dir))
    finally graft.operators.Checkpoints.release(enc)
  }

  def ensureStored(spark: SparkSession, dir: String): Unit =
    Products.ensure(spark, encTable(dir))(buildStored(spark, dir))

  /** The stored encode, building it on first touch in this session. */
  def encoded(spark: SparkSession, dir: String): DataFrame = {
    ensureStored(spark, dir); spark.table(encTable(dir))
  }
}

/** The stored SEMANTIC KEPT SET behind the cross-modal consumers
  * (q213/q217/q225): the q208 SemDeDup survivors' ids, persisted once
  * per input dir — the artifact a serving deployment refreshes beside
  * the kept-vector index (EmbeddingStream's contract), probed here by
  * every selection that gates on meaning. q208/q210/q211/q212/q215/
  * q216 remain the faces that pay (and evidence) the screen itself;
  * only ids ever cross the modality boundary into the text plans.
  */
object SemKeptPhases {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  def keptTable(dir: String): String = s"graft_semkept_${Q.scratchTag(dir)}"

  /** Writes the kept ids, then frees the screen's checkpointed leaf. */
  def buildStored(spark: SparkSession, dir: String): Unit = {
    val kept = graft.operators.SemDedup
      .screen(Tables.embeddings(spark, dir), "vec_id", "embedding")
      .filter(col("kept"))
      .select(col("vec_id").as("doc_id"))
    try Products.store(kept, keptTable(dir))
    finally graft.operators.Checkpoints.release(kept)
  }

  def ensureStored(spark: SparkSession, dir: String): Unit =
    Products.ensure(spark, keptTable(dir))(buildStored(spark, dir))

  /** The stored kept ids, building on first touch in this session. */
  def kept(spark: SparkSession, dir: String): DataFrame = {
    ensureStored(spark, dir); spark.table(keptTable(dir))
  }
}
