package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Decontaminate, TextAnalysis}

/** Text-analysis queries over `documents` (north-star extension: language
  * ID, quality scoring, token counting, document fingerprinting — the cheap
  * per-row pass every LLM data pipeline runs before dedup/filtering).
  * All pure narrow transforms: no shuffle, full whole-stage codegen.
  */
object TextQueries {

  /** q112 query phrases + k, shared by the Spark plan and the generated
    * oracle SQL so the two sides cannot drift (declared before `all`).
    */
  private val Bm25Queries =
    Seq("hash join merge", "vector scan filter", "customer order query")
  private val Bm25K = 10

  /** The distinct (query, term) pairs [[graft.operators.Bm25.topK]]
    * derives — rendered into the oracle's VALUES and IN lists.
    */
  private val bm25QTerms: Seq[(String, String)] =
    Bm25Queries.flatMap(q => q.trim.split("\\s+").distinct.map(q -> _)).distinct

  /** DuckDB rendering of [[TextAnalysis.cleanText]] over `src` (single
    * source of truth for q48 and the q57 curation pipeline).
    */
  private def cleanSql(src: String): String =
    s"""trim(regexp_replace(regexp_replace(regexp_replace($src,
       |         'https?://\\S+', ' ', 'g'),
       |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', ' ', 'g'),
       |         '\\s+', ' ', 'g'))""".stripMargin

  /** DuckDB rendering of [[TextAnalysis.qualityScore]] given precomputed
    * DOUBLE columns chars/toks/punct/stops in scope.
    */
  private val qualitySql: String =
    """((CASE WHEN chars / greatest(toks, 1.0) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
      |        + (CASE WHEN punct / greatest(toks, 1.0) <= 0.3 THEN 1.0 ELSE 0.0 END)
      |        + (CASE WHEN stops / greatest(toks, 1.0) >= 0.05 THEN 1.0 ELSE 0.0 END)
      |        + (CASE WHEN chars BETWEEN 50.0 AND 100000.0 THEN 1.0 ELSE 0.0 END)) / 4.0""".stripMargin

  /** q204 screen thresholds: chosen against the fixture distribution
    * (top-word-frac p50 = .093 / p90 = .14 / p99 = .21; dup3-frac p99 =
    * .036 measured at sf0.01) so both clauses reject a real tail
    * rather than rubber-stamping the corpus. Declared BEFORE `all`:
    * the oracle SQL interpolates them at initialization, and a forward
    * reference would bake 0.0 into the oracle while the operator gets
    * the real value at run time.
    */
  val RepTopWordMax = 0.125
  val RepDup3Max = 0.01

  val all: Seq[Q] = Seq(
    Q(
      "q50_token_count",
      "Token counting: whitespace tokens + a BPE-ish pre-tokenizer regex " +
        "(letter runs / digit runs / single marks).",
      Some("""
        |SELECT doc_id,
        |       CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpe_tokens,
        |       CAST(LENGTH(text) AS INTEGER) AS n_chars_m
        |FROM documents
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.documents(spark, dir).select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"),
          length(col("text")).as("n_chars_m"))
    ),
    Q(
      "q51_quality_score",
      "Gopher/C4-style quality pre-filter: mean word length, punctuation " +
        "density, stopword density, length band -> composite score in [0,1].",
      Some("""
        |SELECT doc_id,
        |       CAST(punct AS DOUBLE) / greatest(toks, 1.0) AS punct_ratio,
        |       CAST(stops AS DOUBLE) / greatest(toks, 1.0) AS stop_ratio,
        |       ((CASE WHEN chars / greatest(toks, 1.0) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)
        |        + (CASE WHEN CAST(punct AS DOUBLE) / greatest(toks, 1.0) <= 0.3 THEN 1.0 ELSE 0.0 END)
        |        + (CASE WHEN CAST(stops AS DOUBLE) / greatest(toks, 1.0) >= 0.05 THEN 1.0 ELSE 0.0 END)
        |        + (CASE WHEN chars BETWEEN 50.0 AND 100000.0 THEN 1.0 ELSE 0.0 END)) / 4.0 AS quality
        |FROM (
        |  SELECT doc_id,
        |         CAST(LENGTH(text) AS DOUBLE) AS chars,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS toks,
        |         len(regexp_extract_all(text, '[.!?,;:]')) AS punct,
        |         len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS stops
        |  FROM documents
        |)
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.documents(spark, dir).select(
          col("doc_id"),
          (TextAnalysis.punctCount(col("text")).cast("double") /
            greatest(TextAnalysis.tokenCount(col("text")).cast("double"), lit(1.0)))
            .as("punct_ratio"),
          (TextAnalysis.stopwordCount(col("text")).cast("double") /
            greatest(TextAnalysis.tokenCount(col("text")).cast("double"), lit(1.0)))
            .as("stop_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
    ),
    Q(
      "q52_langid",
      "Profile-based language ID: CJK-script check, then argmax over " +
        "en/de/fr/es stopword profiles with a density floor and " +
        "deterministic tie order (the n-gram-profile seam, filled).",
      Some("""
        |SELECT doc_id, lang AS lang_declared,
        |       CASE WHEN chars > 0 AND cjk / chars >= 0.05 THEN 'zh'
        |            WHEN toks > 0 AND s_en / toks >= 1.0/12.0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |            WHEN toks > 0 AND s_de / toks >= 1.0/12.0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
        |            WHEN toks > 0 AND s_fr / toks >= 1.0/12.0 AND s_fr >= s_es THEN 'fr'
        |            WHEN toks > 0 AND s_es / toks >= 1.0/12.0 THEN 'es'
        |            WHEN letters > 0 THEN 'und'
        |            ELSE 'zxx' END AS lang_pred
        |FROM (
        |  SELECT doc_id, lang,
        |         CAST(LENGTH(text) AS DOUBLE) AS chars,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS toks,
        |         CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS DOUBLE) AS cjk,
        |         CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS s_en,
        |         CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|zu)\b')) AS DOUBLE) AS s_de,
        |         CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|des|une)\b')) AS DOUBLE) AS s_fr,
        |         CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|que|un)\b')) AS DOUBLE) AS s_es,
        |         len(regexp_extract_all(text, '[A-Za-z]')) AS letters
        |  FROM documents
        |)
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.documents(spark, dir).select(
          col("doc_id"),
          col("lang").as("lang_declared"),
          TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"))
    ),
    Q(
      "q53_fingerprint",
      "Document fingerprinting: exact content fingerprint (md5 of " +
        "normalized text) + winnowing-style rolling min-hash over 5-word " +
        "shingle windows.",
      Some("""
        |SELECT doc_id,
        |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_fp,
        |       list_min(list_transform(
        |         range(1, greatest(len(toks) - 4, 1) + 1),
        |         i -> CAST('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 4), ' ')), 1, 8) AS BIGINT)
        |       )) AS rolling_fp
        |FROM (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.documents(spark, dir).select(
          col("doc_id"),
          TextAnalysis.contentFingerprint(col("text")).as("content_fp"),
          TextAnalysis.rollingFingerprint(col("text")).as("rolling_fp"))
    ),
    Q(
      "q48_text_clean",
      "C4-style cleaning pass: URLs and emails scrubbed to spaces, " +
        "whitespace collapsed, trimmed — plus the URL count as a quality " +
        "signal. Pure codegen'd regex chain (no UDF, no shuffle).",
      Some(s"""
        |SELECT doc_id,
        |       ${cleanSql("text")} AS clean_text,
        |       CAST(len(regexp_extract_all(text, 'https?://\\S+')) AS INTEGER) AS n_urls
        |FROM documents
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.documents(spark, dir).select(
          col("doc_id"),
          TextAnalysis.cleanText(col("text")).as("clean_text"),
          TextAnalysis.urlCount(col("text")).as("n_urls"))
    ),
    Q(
      "q49_repetition",
      "Gopher-style repetition signals: duplicate fraction of adjacent " +
        "word bigrams and of whole words (boilerplate/spam indicator). " +
        "Int-derived double ratios — bit-exact cross-engine.",
      Some("""
        |SELECT doc_id,
        |       CASE WHEN nb > 0 THEN CAST(nb - nd AS DOUBLE) / nb ELSE 0.0 END AS bigram_rep,
        |       CASE WHEN nt > 0 THEN CAST(nt - ntd AS DOUBLE) / nt ELSE 0.0 END AS word_rep
        |FROM (
        |  SELECT doc_id,
        |         len(toks) - 1 AS nb,
        |         len(list_distinct(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1]))) AS nd,
        |         len(toks) AS nt,
        |         len(list_distinct(toks)) AS ntd
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |)
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.documents(spark, dir).select(
          col("doc_id"),
          TextAnalysis.bigramRepetitionRatio(col("text")).as("bigram_rep"),
          TextAnalysis.wordRepetitionRatio(col("text")).as("word_rep"))
    ),
    Q(
      "q61_chunking",
      "Sliding context-window chunking: 50-token windows advancing by 40 " +
        "(10-token overlap) — the pre-tokenization split every training " +
        "pipeline runs. Chunk count is closed-form, the expansion is a " +
        "generator, the pass is narrow (no shuffle).",
      Some("""
        |WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
        |), k AS (
        |  SELECT doc_id, toks,
        |         greatest(1, (len(toks) - 10 + 39) // 40) AS nch
        |  FROM t
        |)
        |SELECT doc_id,
        |       CAST(i AS INTEGER) AS chunk_idx,
        |       array_to_string(list_slice(toks, i * 40 + 1, i * 40 + 50), ' ') AS chunk_text
        |FROM (SELECT doc_id, toks, unnest(range(0, nch)) AS i FROM k)
        |""".stripMargin.trim),
      (spark, dir) =>
        TextAnalysis.chunkByTokens(
          Tables.documents(spark, dir), "text", "doc_id",
          chunkTokens = 50, overlap = 10)
    ),
    Q(
      "q62_pii_redact",
      "PII redaction cascade (emails -> IPv4 -> intl phone numbers, each " +
        "to a typed placeholder). The fixture corpus carries no PII, so " +
        "the query deterministically enriches each row with synthetic " +
        "doc_id-derived PII first — both engines build the identical " +
        "input, so the oracle exercises the actual redaction logic. " +
        "Counts are taken per cascade stage (emails on raw, IPs after " +
        "email removal, phones after both) — that staging IS the " +
        "contract, since an email's digits could otherwise double-count " +
        "as a phone.",
      Some("""
        |WITH p AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |              || ' call +1 555-010' || CAST(doc_id % 10 AS VARCHAR)
        |              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS pii_text
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |         regexp_replace(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM p
        |), s2 AS (
        |  SELECT doc_id, n_emails,
        |         CAST(len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
        |         regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
        |  FROM s1
        |)
        |SELECT doc_id,
        |       regexp_replace(t2, '\+\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS redacted,
        |       n_emails, n_ips,
        |       CAST(len(regexp_extract_all(t2, '\+\d[\d\- ]{7,}\d')) AS INTEGER) AS n_phones
        |FROM s2
        |""".stripMargin.trim),
      (spark, dir) => {
        val pii = concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example.com"),
          lit(" call +1 555-010"), (col("doc_id") % 10).cast("string"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 7) % 256).cast("string"))
        val t1 = regexp_replace(pii, TextAnalysis.emailPattern, "<EMAIL>")
        val t2 = regexp_replace(t1, TextAnalysis.ipv4Pattern, "<IP>")
        Tables.documents(spark, dir).select(
          col("doc_id"),
          TextAnalysis.redactPii(pii).as("redacted"),
          regexp_count(pii, lit(TextAnalysis.emailPattern)).as("n_emails"),
          regexp_count(t1, lit(TextAnalysis.ipv4Pattern)).as("n_ips"),
          regexp_count(t2, lit(TextAnalysis.phonePattern)).as("n_phones"))
      }
    ),
    Q(
      "q63_decontaminate",
      "Benchmark decontamination: every corpus doc (doc_id % 10 <> 0) is " +
        "screened for exact 8-token-gram overlap against the benchmark " +
        "slice (doc_id % 10 = 0). The benchmark n-gram set is broadcast — " +
        "eval suites stay small while the corpus scales to 100 TB — so " +
        "corpus n-grams are never shuffled; the only exchange is the " +
        "per-doc hit count. Every corpus doc is reported (zero hits " +
        "included).",
      Some("""
        |WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 7, 0) + 1),
        |    i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS g
        |  FROM t
        |), bench AS (
        |  SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0
        |), hits AS (
        |  SELECT c.doc_id, COUNT(*) AS hits
        |  FROM (SELECT doc_id, g FROM g WHERE doc_id % 10 <> 0) c
        |  JOIN bench b ON c.g = b.g
        |  GROUP BY 1
        |)
        |SELECT d.doc_id,
        |       CAST(COALESCE(h.hits, 0) AS BIGINT) AS n_hits,
        |       COALESCE(h.hits, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
        |LEFT JOIN hits h ON h.doc_id = d.doc_id
        |""".stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        Decontaminate.report(
          corpus = docs.filter(col("doc_id") % 10 =!= 0),
          benchmark = docs.filter(col("doc_id") % 10 === 0),
          textCol = "text", idCol = "doc_id", n = 8)
      }
    ),
    Q(
      "q134_leakage_report",
      "q63's REVERSE audit, for the benchmark's owners: per benchmark " +
        "item, how many distinct corpus docs share an exact 8-token " +
        "gram — which eval rows are burned, and how widely. Same scale " +
        "shape as q63: the (gram, bench_id) map broadcasts, corpus " +
        "grams are screened BEFORE any shuffle, only surviving id " +
        "pairs are exchanged; every benchmark item reported, zero " +
        "leaks included.",
      Some("""
        |WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 7, 0) + 1),
        |    i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS g
        |  FROM t
        |), hits AS (
        |  SELECT b.doc_id AS bench_id,
        |         CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_leaked_docs
        |  FROM (SELECT doc_id, g FROM g WHERE doc_id % 10 = 0) b
        |  JOIN (SELECT doc_id, g FROM g WHERE doc_id % 10 <> 0) c ON b.g = c.g
        |  GROUP BY 1
        |)
        |SELECT d.doc_id AS bench_id,
        |       CAST(COALESCE(h.n_leaked_docs, 0) AS BIGINT) AS n_leaked_docs
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        |LEFT JOIN hits h ON h.bench_id = d.doc_id
        |""".stripMargin.trim),
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        Decontaminate.leakageReport(
          corpus = docs.filter(col("doc_id") % 10 =!= 0),
          benchmark = docs.filter(col("doc_id") % 10 === 0),
          textCol = "text", idCol = "doc_id", n = 8)
      }
    ),
    Q(
      "q70_tfidf",
      "TF-IDF term scoring, integer-exact: per-(doc, term) tf, corpus df, " +
        "and score = tf * (N_docs * 1e6 div df) — a scaled-rational idf " +
        "proxy instead of log(N/df), so the oracle compares exact BIGINTs " +
        "(cross-engine log() bit-equality is not a contract worth " +
        "betting on). Top-3 terms per doc, ties broken lexically. " +
        "Shuffle plan: explode is narrow; tf aggregates on (doc, term); " +
        "the df table is vocabulary-sized and broadcast back, so the " +
        "corpus never reshuffles on term.",
      Some("""
        |WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |         tf.tf * ((n.n_docs * 1000000) // df.df) AS score
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        |)
        |SELECT doc_id, term, tf, df, score, CAST(rn AS INTEGER) AS rank
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |      FROM scored)
        |WHERE rn <= 3
        |""".stripMargin.trim),
      (spark, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(spark, dir)
        val toks = docs.select(
          col("doc_id"),
          explode(TextAnalysis.wsTokens(col("text"))).as("term"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf
          .join(broadcast(dfT), "term")
          .crossJoin(broadcast(nDocs))
          .select(
            col("doc_id"), col("term"), col("tf"), col("df"),
            (col("tf") * expr("(n_docs * 1000000) div df")).as("score"))
        val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
        scored
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
      }
    ),
    Q(
      "q80_array_hof_funcs",
      "Array + higher-order function surface: distinct/sort/element " +
        "access/membership plus an aggregate-fold (total token chars) — " +
        "all codegen'd array expressions over the token split, zero " +
        "shuffle. DuckDB list functions mirror each one.",
      Some("""
        |SELECT doc_id,
        |       CAST(len(list_distinct(toks)) AS INTEGER) AS n_vocab,
        |       list_sort(list_distinct(toks))[1] AS first_tok,
        |       list_sort(list_distinct(toks))[len(list_distinct(toks))] AS last_tok,
        |       list_contains(toks, 'data') AS has_data,
        |       CAST(list_sum(list_transform(toks, x -> length(x))) AS INTEGER) AS total_tok_chars
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |""".stripMargin.trim),
      (spark, dir) => {
        val toks = TextAnalysis.wsTokens(col("text"))
        val vocab = sort_array(array_distinct(toks))
        Tables.documents(spark, dir).select(
          col("doc_id"),
          size(array_distinct(toks)).as("n_vocab"),
          element_at(vocab, 1).as("first_tok"),
          element_at(vocab, size(vocab)).as("last_tok"),
          array_contains(toks, "data").as("has_data"),
          aggregate(toks, lit(0), (acc, x) => acc + length(x)).as("total_tok_chars"))
      }
    ),
    Q(
      "q57_curation_pipeline",
      "The capstone composition every training corpus runs: quality floor " +
        "(q51) FIRST on the raw column — a filter over plain attribute " +
        "references pushes to the scan; scoring the cleaned alias instead " +
        "would inline the regex chain into every one of the predicate's " +
        "~6 references — then clean (q48) only the survivors, exact-dedup " +
        "on the cleaned fingerprint keeping min-id (q30), and " +
        "deterministically split (q38). One lazy plan, ONE shuffle (the " +
        "dedup groupBy); everything else is narrow.",
      Some(s"""
        |WITH scored AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |           CAST(LENGTH(text) AS DOUBLE) AS chars,
        |           CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS toks,
        |           CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE) AS punct,
        |           CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b')) AS DOUBLE) AS stops
        |    FROM documents
        |  ) WHERE $qualitySql >= 0.5
        |), cleaned AS (
        |  SELECT doc_id, ${cleanSql("text")} AS clean FROM scored
        |), keep AS (
        |  SELECT md5(clean) AS fp, min(doc_id) AS doc_id, COUNT(*) AS n_copies
        |  FROM cleaned GROUP BY 1
        |)
        |SELECT doc_id,
        |       CASE WHEN b < 80 THEN 'train'
        |            WHEN b < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |       n_copies
        |FROM (
        |  SELECT doc_id, n_copies,
        |         CAST('0x' || substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
        |  FROM keep
        |)
        |""".stripMargin.trim),
      (spark, dir) => {
        val scored = Tables.documents(spark, dir)
          .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        val cleaned = scored
          .select(col("doc_id"), TextAnalysis.cleanText(col("text")).as("clean"))
        val keep = cleaned
          .groupBy(md5(col("clean").cast("binary")).as("fp"))
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        keep.select(
          col("doc_id"),
          graft.operators.Sampling.splitLabel(col("doc_id"), salt = "cur:").as("split"),
          col("n_copies"))
      }
    ),
    Q(
      "q95_boilerplate_removal",
      "Cross-document boilerplate removal (C4/RefinedWeb-style): each doc " +
        "cut into non-overlapping 3-token passages, passage document " +
        "frequency counted corpus-wide (one map-side-combined shuffle on " +
        "the passage), passages in more than 5 docs dropped, survivors " +
        "reassembled in order. The screen BROADCASTS the tiny over-cap " +
        "set and anti-joins (stop-gram pattern) — the hottest passages " +
        "are by definition the boilerplate, so the full stream is never " +
        "shuffled on the passage value. Both engines mirror the " +
        "identical cut + cap, so the oracle is exact.",
      Some("""
        |WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
        |), p AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pidx,
        |         array_to_string(t[i*3+1 : i*3+3], ' ') AS passage
        |  FROM toks, UNNEST(range(0, len(t) // 3)) AS u(i)
        |), df AS (
        |  SELECT passage, count(DISTINCT doc_id) AS pdf FROM p GROUP BY 1
        |)
        |SELECT p.doc_id,
        |       count(*) FILTER (WHERE pdf <= 5) AS n_kept,
        |       count(*) FILTER (WHERE pdf > 5) AS n_dropped,
        |       coalesce(string_agg(passage, ' ' ORDER BY pidx)
        |                  FILTER (WHERE pdf <= 5), '') AS cleaned_text
        |FROM p JOIN df USING (passage)
        |GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.Boilerplate.removeBoilerplate(
          Tables.documents(spark, dir), "doc_id", "text",
          window = 3, maxDf = 5L)
    ),
    Q(
      "q96_bpe_pair_counts",
      "BPE/WordPiece merge-selection inner loop: corpus-wide counts of " +
        "adjacent whitespace-token pairs, top 200 with a lexicographic " +
        "tiebreak. Narrow pair explode, ONE map-side-combined shuffle on " +
        "the pair, and the top-k plans as TakeOrderedAndProject (per-" +
        "partition top-k + k-row driver merge), never a global sort.",
      Some("""
        |WITH toks AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
        |), pr AS (
        |  SELECT t[i] || ' ' || t[i+1] AS pair
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)
        |)
        |SELECT pair, count(*) AS n
        |FROM pr GROUP BY 1
        |ORDER BY n DESC, pair
        |LIMIT 200
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CorpusStats.pairCounts(
          Tables.documents(spark, dir), "text", k = 200)
    ),
    Q(
      "q97_gram_novelty",
      "Per-document 5-gram novelty: the fraction of a doc's distinct " +
        "grams first seen (by ascending doc id) in that doc — the " +
        "content-growth signal for ordering or pruning sources that stop " +
        "contributing new text. First-occurrence is a min-aggregate " +
        "shuffled on the gram (map-side combine) joined back on the same " +
        "key; the ratio is exact int/int double division, bit-identical " +
        "across engines.",
      Some("""
        |WITH g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, array_to_string(t[i : i+4], ' ') AS gram
        |    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |          FROM documents),
        |         UNNEST(range(1, len(t) - 3)) AS u(i))
        |), f AS (
        |  SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1
        |)
        |SELECT doc_id,
        |       count(*) AS n_grams,
        |       count(*) FILTER (WHERE first_doc = doc_id) AS n_novel,
        |       CAST(count(*) FILTER (WHERE first_doc = doc_id) AS DOUBLE)
        |         / count(*) AS novelty
        |FROM g JOIN f USING (gram)
        |GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CorpusStats.gramNovelty(
          Tables.documents(spark, dir), "doc_id", "text", n = 5)
    ),
    Q(
      "q98_countmin_sketch",
      "Count-min sketch of the corpus token stream as its 4x64 count " +
        "matrix: the heavy-hitter/frequency primitive beside the KMV " +
        "distinct sketch (q54). The md5-derived salted hash family makes " +
        "the whole matrix deterministic and engine-portable, so the " +
        "oracle checks the sketch ITSELF, cell for cell. One narrow " +
        "4-way cell explode, one map-side-combined shuffle onto a " +
        "constant 256-cell key space — output size is independent of " +
        "corpus size, the property that makes the sketch mergeable " +
        "monoid state at 100 TB.",
      Some("""
        |WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents
        |), cells AS (
        |  SELECT CAST(r AS INTEGER) AS r,
        |         CAST('0x' || substr(md5('cm' || CAST(r AS VARCHAR) || ':' || tok), 1, 8)
        |              AS BIGINT) % 64 AS c
        |  FROM toks, UNNEST(range(0, 4)) AS u(r)
        |)
        |SELECT r, c, count(*) AS cnt
        |FROM cells GROUP BY 1, 2
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CountMin.sketch(
          Tables.documents(spark, dir)
            .select(explode(
              graft.operators.TextAnalysis.wsTokens(col("text"))).as("tok")),
          "tok", depth = 4, width = 64)
    ),
    Q(
      "q191_heavy_hitters",
      "Two-pass exact heavy hitters over the corpus bigram stream: a " +
        "row-local CMS screen (q98's 4x64 matrix as a plan literal — " +
        "the q186 device) admits only rows whose estimate reaches the " +
        "count floor, then the exact group-count runs on the surviving " +
        "sliver. The screen is provably lossless (CMS never " +
        "under-counts, so every true heavy hitter passes; collisions " +
        "only over-admit and the exact second filter prunes them) — " +
        "the ORACLE is the direct one-pass group-count, so the gate " +
        "proves output identity. What the screen buys at 100 TB: " +
        "partial-aggregate state per task shrinks from the full " +
        "vocabulary (the dominant cost for web-scale n-gram vocabs) " +
        "to the screened sliver, at scan-bandwidth screen cost.",
      Some("""
        |WITH t AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
        |), g AS (
        |  SELECT array_to_string(t[i : i+1], ' ') AS pair
        |  FROM t, UNNEST(range(1, len(t))) AS u(i)
        |)
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |FROM g GROUP BY pair HAVING count(*) >= 40
        |""".stripMargin.trim),
      (spark, dir) => {
        val toks = graft.operators.TextAnalysis.wsTokens(col("text"))
        val m = size(toks) - lit(1)
        val pairs = zip_with(
          slice(toks, lit(1), m), slice(toks, lit(2), m),
          (a, b) => concat_ws(" ", a, b))
        graft.operators.CountMin.heavyHitters(
          Tables.documents(spark, dir).select(explode(pairs).as("pair")),
          "pair", depth = 4, width = 64, minCount = 40L)
      }
    ),
    Q(
      "q192_vocab_coverage",
      "Top-20 vocabulary coverage curve: cumulative fraction of corpus " +
        "token mass covered at each vocabulary rank — the curve a " +
        "tokenizer design reads to CHOOSE V, where q127's OOV audit " +
        "checks one already-chosen V. One map-side-combined count, the " +
        "total reduced FROM the counts table (no second corpus pass), " +
        "TakeOrderedAndProject top-V, and a single-partition window " +
        "bounded by V rows — by the parameter, never the corpus. " +
        "Integer cumulative mass, one final division.",
      Some("""
        |WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
        |), c AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c
        |), top AS (
        |  SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 20
        |), r AS (
        |  SELECT tok, cnt,
        |         CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rank,
        |         CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
        |  FROM top
        |)
        |SELECT rank, tok, cnt, cum_cnt,
        |       CAST(cum_cnt AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
        |FROM r, tot
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CorpusStats.vocabCoverage(
          Tables.documents(spark, dir), "text", vocabSize = 20)
    ),
    Q(
      "q99_zorder_value",
      "Z-order (Morton) curve key over (user_id, event_id): the codegen'd " +
        "bit-interleave expression behind multi-dimensional data layout " +
        "(Layout.zOrderBy) — sorting by this key clusters files in BOTH " +
        "dimensions so min/max statistics prune box predicates on either " +
        "one (for dimensions of comparable range; zOrderBy documents the " +
        "pre-scaling contract for skewed ranges, and the bench measures " +
        "the pruning payoff on the pre-scaled layout). The oracle renders " +
        "the identical curve bit by bit from the same constants " +
        "(ZOrderInterleave.duckSql), checking the curve value for value.",
      Some(
        s"""SELECT event_id,
           |       ${graft.functions.ZOrderInterleave.duckSql("user_id", "event_id")} AS z_value
           |FROM events""".stripMargin),
      (spark, dir) =>
        Tables.eventsTsNs(spark, dir)
          .select(
            col("event_id"),
            graft.functions.ZOrderInterleave
              .zorderInterleave(col("user_id"), col("event_id"))
              .as("z_value"))
    ),
    Q(
      "q101_boilerplate_normalized",
      "Near-miss boilerplate removal: the q95 screen keyed on a NORMALIZED " +
        "passage fingerprint (lowercase + digit runs folded to '0', then " +
        "the portable md5-prefix hash), so chrome varying only by " +
        "dates/counters ('© 2024' vs '© 2025', 'Page 3 of 10') caps as ONE " +
        "passage family where the verbatim screen sees df=1 singletons. " +
        "Same broadcast anti-join shape; survivors reassemble as their " +
        "ORIGINAL text. Both engines fold digits and hash identically, so " +
        "the oracle is exact.",
      Some("""
        |WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
        |), p AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pidx,
        |         array_to_string(t[i*3+1 : i*3+3], ' ') AS passage
        |  FROM toks, UNNEST(range(0, len(t) // 3)) AS u(i)
        |), k AS (
        |  SELECT doc_id, pidx, passage,
        |         CAST('0x' || substr(md5(regexp_replace(lower(passage), '[0-9]+', '0', 'g')), 1, 8) AS BIGINT) AS key
        |  FROM p
        |), df AS (
        |  SELECT key, count(DISTINCT doc_id) AS pdf FROM k GROUP BY 1
        |)
        |SELECT k.doc_id,
        |       count(*) FILTER (WHERE pdf <= 5) AS n_kept,
        |       count(*) FILTER (WHERE pdf > 5) AS n_dropped,
        |       coalesce(string_agg(passage, ' ' ORDER BY pidx)
        |                  FILTER (WHERE pdf <= 5), '') AS cleaned_text
        |FROM k JOIN df USING (key)
        |GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.Boilerplate.removeBoilerplateNormalized(
          Tables.documents(spark, dir), "doc_id", "text",
          window = 3, maxDf = 5L)
    ),
    Q(
      "q100_capstone_pipeline",
      "End-to-end curation capstone: C4-style clean -> cross-doc " +
        "boilerplate removal (broadcast anti-join screen) -> exact dedup " +
        "(sha256 groupBy, min-id survivor) -> per-source token-budget " +
        "selection (two-phase sharded, exact) -> contiguous sequence " +
        "packing into 512-token bins (two-phase sharded prefix sum). " +
        "The curated corpus MATERIALIZES once between curation and " +
        "layout (localCheckpoint here; a parquet write at cluster scale " +
        "— the q64 build/probe trade): the sharded layout stages " +
        "reference their input several times, and without the cut the " +
        "whole clean+screen subtree recomputes per reference. Post-" +
        "reassembly, document bodies never shuffle — dedup moves " +
        "(sha, id), selection and packing move narrow scored rows. " +
        "Exercises every schema hand-off the stages promise each other; " +
        "each stage is individually oracle-checked (q48/q95/q30/q92/" +
        "q90), this checks their COMPOSITION value-for-value.",
      Some(s"""
        |WITH cleaned AS (
        |  SELECT doc_id, source, ${cleanSql("text")} AS clean FROM documents
        |), tok AS (
        |  SELECT doc_id, string_split_regex(trim(clean), '\\s+') AS t FROM cleaned
        |), p AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pidx,
        |         array_to_string(t[i*3+1 : i*3+3], ' ') AS passage
        |  FROM tok, UNNEST(range(0, len(t) // 3)) AS u(i)
        |), pdf AS (
        |  SELECT passage, count(DISTINCT doc_id) AS pdf FROM p GROUP BY 1
        |), bp AS (
        |  SELECT p.doc_id,
        |         count(*) FILTER (WHERE pdf <= 5) AS n_kept,
        |         coalesce(string_agg(passage, ' ' ORDER BY pidx)
        |                    FILTER (WHERE pdf <= 5), '') AS ctext
        |  FROM p JOIN pdf USING (passage)
        |  GROUP BY 1
        |), kept AS (
        |  SELECT b.doc_id, c.source, b.ctext
        |  FROM bp b JOIN cleaned c USING (doc_id)
        |  WHERE b.n_kept >= 1
        |), surv AS (
        |  SELECT k.* FROM kept k
        |  JOIN (SELECT sha256(ctext) AS fp, min(doc_id) AS doc_id
        |        FROM kept GROUP BY 1) d USING (doc_id)
        |), feats AS (
        |  SELECT doc_id, source,
        |         CAST(LENGTH(ctext) AS DOUBLE) AS chars,
        |         CAST(len(string_split_regex(trim(ctext), '\\s+')) AS DOUBLE) AS toks,
        |         len(regexp_extract_all(ctext, '[.!?,;:]')) AS punct,
        |         len(regexp_extract_all(lower(ctext), '\\b(the|and|of|to|in|is|a)\\b')) AS stops
        |  FROM surv
        |), q AS (
        |  SELECT doc_id, source, $qualitySql AS quality,
        |         CAST(toks AS BIGINT) AS ws_tokens
        |  FROM feats
        |), budget AS (
        |  SELECT doc_id, source, ws_tokens, cum_tokens FROM (
        |    SELECT *, CAST(SUM(ws_tokens) OVER (
        |      PARTITION BY source ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |    FROM q)
        |  WHERE cum_tokens <= 800
        |), packed AS (
        |  SELECT doc_id, source, ws_tokens, cum_tokens,
        |         CAST(SUM(ws_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           - ws_tokens AS pack_start
        |  FROM budget
        |)
        |SELECT doc_id, source, ws_tokens, cum_tokens,
        |       pack_start // 512 AS bin_id,
        |       pack_start % 512 AS bin_offset
        |FROM packed
        |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators._
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"),
            TextAnalysis.cleanText(col("text")).as("clean"))
        // Curation job: clean -> screen -> reassemble, then score and
        // FINGERPRINT while the body is still in hand — the materialized
        // intermediate carries only narrow columns (id, source, quality,
        // tokens, sha), never the text: everything downstream (dedup,
        // budget, packing) works off the fingerprint and the counts.
        val curated = Boilerplate.removeBoilerplate(
            docs, "doc_id", "clean", window = 3, maxDf = 5L)
          .filter(col("n_kept") >= 1)
          .join(docs.select("doc_id", "source"), Seq("doc_id"))
          .select(
            col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("cleaned_text")).as("quality"),
            TextAnalysis.tokenCount(col("cleaned_text")).cast("long").as("ws_tokens"),
            sha2(col("cleaned_text").cast("binary"), 256).as("fp"))
          .localCheckpoint(false) // materialize the curated corpus ONCE
        val scored = curated.join(
            Dedup.exactGroupsByKey(curated, "fp", "doc_id")
              .select(col("keep_id").as("doc_id")),
            Seq("doc_id"), "left_semi")
          .drop("fp")
        val budgeted = Sampling.fillTokenBudgetSharded(
          scored, "source", "quality", "doc_id", "ws_tokens", budget = 800L)
        Packing.contiguousPackSharded(
            budgeted, "source", "doc_id", "ws_tokens", capacity = 512L)
          .select("doc_id", "source", "ws_tokens", "cum_tokens", "bin_id", "bin_offset")
      }
    ),
    Q(
      "q103_hll_registers",
      "HyperLogLog register table (p=6, 64 buckets) over the per-source " +
        "token stream: the mergeable distinct-count sketch completing " +
        "the family beside KMV (q54) and count-min (q98). Bucket = low " +
        "6 hash bits, rank = leading-zero count of the high 26 via " +
        "length(bin(w)) — pure integer arithmetic over the portable md5 " +
        "hash, so the oracle checks the sketch register for register. " +
        "One shuffle onto a (source x 64)-cell key space with max as " +
        "the map-side combiner: constant output however large the " +
        "corpus, and per-shard sketches union by cell-wise max.",
      Some("""
        |WITH toks AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents
        |), hr AS (
        |  SELECT source,
        |         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) & 63 AS bucket,
        |         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) >> 6 AS w
        |  FROM toks
        |)
        |SELECT source, bucket,
        |       CAST(max(CASE WHEN w = 0 THEN 27
        |                     ELSE 27 - length(bin(w)) END) AS INTEGER) AS register
        |FROM hr GROUP BY 1, 2
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.HyperLogLog.registers(
          Tables.documents(spark, dir)
            .select(col("source"),
              explode(graft.operators.TextAnalysis.wsTokens(col("text"))).as("tok")),
          "tok", Seq("source"), p = 6)
    ),
    Q(
      "q104_hll_estimate",
      "HLL distinct-document estimate per source beside the exact count: " +
        "the harmonic sum is kept in FIXED-POINT (s_scaled = S * 2^27, " +
        "an exact order-independent BIGINT), so the raw estimate is one " +
        "double multiply and one divide from integers — bit-identical " +
        "across engines with no transcendental in the checked path (the " +
        "ln-based small-range correction is spec-pinned in " +
        "HyperLogLogSpec instead). At 100 TB the register table is the " +
        "persisted artifact; estimates re-derive from it without " +
        "rescanning the corpus.",
      Some(s"""
        |WITH hr AS (
        |  SELECT source,
        |         CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) & 63 AS bucket,
        |         CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) >> 6 AS w
        |  FROM documents
        |), regs AS (
        |  SELECT source, bucket,
        |         max(CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END) AS register
        |  FROM hr GROUP BY 1, 2
        |), est AS (
        |  SELECT source,
        |         CAST((64 - count(*)) * (CAST(1 AS BIGINT) << 27)
        |           + sum(CAST(1 AS BIGINT) << (27 - register)) AS BIGINT) AS s_scaled
        |  FROM regs GROUP BY 1
        |)
        |SELECT e.source, e.s_scaled,
        |       (${graft.operators.HyperLogLog.alphaLiteral(6)}) * 549755813888.0
        |         / CAST(e.s_scaled AS DOUBLE) AS hll_raw,
        |       x.n_exact
        |FROM est e
        |JOIN (SELECT source, count(DISTINCT text) AS n_exact
        |      FROM documents GROUP BY 1) x USING (source)
        |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.HyperLogLog
        val docs = Tables.documents(spark, dir)
        val est = HyperLogLog.estimateRaw(
          HyperLogLog.registers(docs, "text", Seq("source"), p = 6),
          Seq("source"), p = 6)
        est.join(
          docs.groupBy("source").agg(countDistinct("text").as("n_exact")),
          Seq("source"))
      }
    ),
    Q(
      "q105_bloom_screen",
      "Bloom-filter blocklist screen (k=3, m=4096): every document " +
        "probed against the content fingerprints of a blocklist (docs " +
        "with id % 20 = 0) through a CONSTANT 4096-bit broadcast bitmap " +
        "— the 100 TB screen shape where the blocklist itself is too " +
        "big to broadcast and too hot to shuffle-join. Salted portable " +
        "md5 positions make filter and probes bit-deterministic, so " +
        "false positives are oracle-checked values, not statistics; " +
        "exact_blocked (broadcast semi-join truth) rides along to " +
        "measure the realized FP rate. Probe is row-local codegen: " +
        "zero joins, zero shuffles on the corpus stream.",
      Some {
        def posSql(i: Int, key: String): String =
          s"CAST('0x' || substr(md5('bloom$i:' || $key), 1, 8) AS BIGINT) % 4096"
        s"""
        |WITH bl AS (
        |  SELECT DISTINCT md5(text) AS key FROM documents WHERE doc_id % 20 = 0
        |), pos AS (
        |  SELECT DISTINCT ${posSql(0, "key")} AS p FROM bl
        |  UNION
        |  SELECT DISTINCT ${posSql(1, "key")} AS p FROM bl
        |  UNION
        |  SELECT DISTINCT ${posSql(2, "key")} AS p FROM bl
        |), d AS (
        |  SELECT doc_id, md5(text) AS key FROM documents
        |)
        |SELECT doc_id,
        |       (${posSql(0, "key")} IN (SELECT p FROM pos))
        |   AND (${posSql(1, "key")} IN (SELECT p FROM pos))
        |   AND (${posSql(2, "key")} IN (SELECT p FROM pos)) AS maybe_blocked,
        |       key IN (SELECT key FROM bl) AS exact_blocked
        |FROM d
        |""".stripMargin.trim
      },
      (spark, dir) => {
        val keyed = Tables.documents(spark, dir)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("key"))
        val blocklist = keyed.filter(col("doc_id") % 20 === 0).select("key")
        graft.operators.BloomScreen.screen(
            keyed, "key", blocklist, "key", k = 3, m = 4096)
          .select("doc_id", "maybe_blocked", "exact_blocked")
      }
    ),
    Q(
      "q107_fragment_stitch",
      "Fragment stitching: pairs where one document's last 2 tokens are " +
        "another's first 2 verbatim — the mid-document split signature " +
        "(crawl shard boundaries, pagination) a pipeline repairs by " +
        "rejoining rather than deduplicating away. Each doc contributes " +
        "ONE prefix and ONE suffix key, so candidates come from an " +
        "equi-join of two narrow hash streams (never quadratic); the " +
        "2-token overlap string rides along only to verify hash " +
        "candidates exactly. Oracle joins directly on the overlap " +
        "string — the output is hash-representation-independent.",
      Some("""
        |WITH tok AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
        |), e AS (
        |  SELECT doc_id, t FROM tok WHERE len(t) >= 2
        |), heads AS (
        |  SELECT doc_id AS right_id, array_to_string(t[1:2], ' ') AS ov FROM e
        |), tails AS (
        |  SELECT doc_id AS left_id,
        |         array_to_string(t[len(t)-1:len(t)], ' ') AS ov FROM e
        |)
        |SELECT left_id, right_id, ov AS overlap
        |FROM tails JOIN heads USING (ov)
        |WHERE left_id <> right_id
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.Stitch.fragmentCandidates(
          Tables.documents(spark, dir), "doc_id", "text", k = 2)
    ),
    Q(
      "q108_hdr_sketch",
      "HDR-style quantile histogram (subBits=4) of per-source document " +
        "token counts: values bucket by (floor(log2), top-4 mantissa " +
        "bits) — relative bucket width 1/16 with EVERYTHING in integer " +
        "arithmetic (the exponent is length(bin(v))-1, no libm), so the " +
        "histogram is oracle-checked cell for cell like the count-min " +
        "matrix and HLL registers. One exchange onto a constant " +
        "(source x cell) key space, count map-side combined; per-shard " +
        "histograms merge by cell-wise addition.",
      Some("""
        |WITH v AS (
        |  SELECT source,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        |  FROM documents
        |), cells AS (
        |  SELECT source, toks,
        |         CASE WHEN toks = 0 THEN -1
        |              ELSE CAST(length(bin(toks)) AS INTEGER) - 1 END AS e
        |  FROM v
        |)
        |SELECT source, e,
        |       CASE WHEN e <= 4 THEN toks ELSE toks >> (e - 4) END AS sub,
        |       count(*) AS cnt
        |FROM cells GROUP BY 1, 2, 3
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.HdrSketch.sketch(
          Tables.documents(spark, dir)
            .select(col("source"),
              graft.operators.TextAnalysis.tokenCount(col("text")).as("toks")),
          "toks", Seq("source"), subBits = 4)
    ),
    Q(
      "q109_hdr_quantiles",
      "p50/p90/p99 per-source token-count quantiles FROM the q108 " +
        "histogram: cumulative-count walk to rank ceil(q*n), emitting " +
        "integer bucket lower bounds — est <= true < est*(1+1/16)+1 " +
        "(the bound HdrSketchSpec pins against exact order statistics). " +
        "The walk runs on the constant-size sketch, never the corpus: " +
        "at 100 TB the histogram is the persisted artifact and any " +
        "quantile re-derives from it for free, where exact percentiles " +
        "would re-shuffle the raw metric stream per question.",
      Some("""
        |WITH v AS (
        |  SELECT source,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        |  FROM documents
        |), cells AS (
        |  SELECT source, toks,
        |         CASE WHEN toks = 0 THEN -1
        |              ELSE CAST(length(bin(toks)) AS INTEGER) - 1 END AS e
        |  FROM v
        |), sk AS (
        |  SELECT source, e,
        |         CASE WHEN e <= 4 THEN toks ELSE toks >> (e - 4) END AS sub,
        |         count(*) AS cnt
        |  FROM cells GROUP BY 1, 2, 3
        |), cum AS (
        |  SELECT source, e, sub, cnt,
        |         CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY e, sub
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM sk
        |), tot AS (
        |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM sk GROUP BY 1
        |), probes AS (
        |  SELECT source, n, pq,
        |         CAST(ceil(q * n) AS BIGINT) AS rank
        |  FROM tot, (VALUES ('p50', CAST(0.50 AS DOUBLE)),
        |                    ('p90', CAST(0.90 AS DOUBLE)),
        |                    ('p99', CAST(0.99 AS DOUBLE))) AS qs(pq, q)
        |)
        |SELECT p.source, p.pq, p.n, p.rank,
        |       min(CASE WHEN c.e <= 4 THEN c.sub
        |                ELSE c.sub << (c.e - 4) END) AS est
        |FROM probes p JOIN cum c ON p.source = c.source AND c.cum >= p.rank
        |GROUP BY 1, 2, 3, 4
        |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.{HdrSketch, TextAnalysis}
        val sk = HdrSketch.sketch(
          Tables.documents(spark, dir)
            .select(col("source"), TextAnalysis.tokenCount(col("text")).as("toks")),
          "toks", Seq("source"), subBits = 4)
        HdrSketch.quantiles(sk, Seq("source"),
          Seq("p50" -> 0.50, "p90" -> 0.90, "p99" -> 0.99), subBits = 4)
      }
    ),
    Q(
      "q112_bm25_topk",
      "BM25 ranked retrieval: top-10 documents per query phrase, Okapi " +
        "k1=1.2 b=0.75 with every rational folded through to exact " +
        "BIGINT arithmetic (avgdl enters as T/N, idf floor-scaled by " +
        "1e6) so both engines score bit-for-bit. Query terms are plan " +
        "literals filtering the token stream BEFORE the tf shuffle (the " +
        "q63 decontamination pattern); df and the (query, term) map are " +
        "vocabulary-bounded broadcast joins; corpus N and T ride a " +
        "broadcast 1-row frame; per-query top-k plans as " +
        "WindowGroupLimit — the corpus is scanned once and only " +
        "query-vocabulary tokens ever shuffle.",
      Some(
        s"""WITH d AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
           |  FROM documents
           |), dd AS (
           |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl FROM d
           |), stats AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum(dl) AS BIGINT) AS t_tokens
           |  FROM dd
           |), tf AS (
           |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM dd)
           |  WHERE term IN (${bm25QTerms.map(_._2).distinct.map(t => s"'$t'").mkString(", ")})
           |  GROUP BY 1, 2, 3
           |), df AS (
           |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
           |), qt(query, term) AS (
           |  VALUES ${bm25QTerms.map { case (q, t) => s"('$q', '$t')" }.mkString(",\n         ")}
           |), sc AS (
           |  SELECT qt.query, tf.doc_id,
           |         CAST(sum(
           |           (((((2 * n_docs - 2 * df + 1) * ${graft.operators.Bm25.Scale})
           |               // (2 * df + 1)) * 22 * tf * t_tokens)
           |             // (10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs))
           |         ) AS BIGINT) AS score
           |  FROM tf JOIN df USING (term) JOIN qt USING (term), stats
           |  GROUP BY 1, 2
           |)
           |SELECT query, doc_id, score, rnk AS "rank" FROM (
           |  SELECT query, doc_id, score,
           |         CAST(row_number() OVER (
           |           PARTITION BY query ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
           |  FROM sc)
           |WHERE rnk <= $Bm25K""".stripMargin),
      (spark, dir) =>
        graft.operators.Bm25.topK(
          Tables.documents(spark, dir), "doc_id", "text", Bm25Queries, Bm25K)
    ),
    Q(
      "q113_sketch_quality_floor",
      "Sketch-DRIVEN curation: per-source p10 token-count floor derived " +
        "from the q108 HDR histogram, broadcast back as thresholds, docs " +
        "below their source's floor dropped — the 'trim the shortest " +
        "decile of every source' screen with the cutoff decided by a " +
        "constant-size mergeable sketch instead of a corpus-wide exact " +
        "percentile (at 100 TB the threshold pass is a narrow scan into " +
        "a few-KB histogram; per-shard sketches roll up by count " +
        "addition, so the floor never needs a global sort or a raw " +
        "re-shuffle). Second pass re-scans the corpus to apply the " +
        "source-keyed broadcast floor — two narrow scans, zero wide " +
        "shuffles of document rows.",
      Some("""
        |WITH v AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        |  FROM documents
        |), cells AS (
        |  SELECT source, toks,
        |         CASE WHEN toks = 0 THEN -1
        |              ELSE CAST(length(bin(toks)) AS INTEGER) - 1 END AS e
        |  FROM v
        |), sk AS (
        |  SELECT source, e,
        |         CASE WHEN e <= 4 THEN toks ELSE toks >> (e - 4) END AS sub,
        |         count(*) AS cnt
        |  FROM cells GROUP BY 1, 2, 3
        |), cum AS (
        |  SELECT source, e, sub, cnt,
        |         CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY e, sub
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |         CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM sk
        |), thr AS (
        |  SELECT source,
        |         min(CASE WHEN e <= 4 THEN sub ELSE sub << (e - 4) END) AS p10_floor
        |  FROM cum
        |  WHERE cum >= CAST(ceil(0.10 * n) AS BIGINT)
        |  GROUP BY 1
        |)
        |SELECT v.source, v.doc_id, v.toks, thr.p10_floor
        |FROM v JOIN thr USING (source)
        |WHERE v.toks >= thr.p10_floor
        |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.HdrSketch
        val v = Tables.documents(spark, dir).select(
          col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
        val thr = HdrSketch.quantiles(
            HdrSketch.sketch(v, "toks", Seq("source"), subBits = 4),
            Seq("source"), Seq("p10" -> 0.10), subBits = 4)
          .select(col("source"), col("est").as("p10_floor"))
        v.join(broadcast(thr), Seq("source"))
          .filter(col("toks") >= col("p10_floor"))
          .select("source", "doc_id", "toks", "p10_floor")
      }
    ),
    Q(
      "q118_source_drift",
      "Per-source unigram-distribution drift: total-variation distance " +
        "between each source's token distribution and the corpus — the " +
        "mixture-design diagnostic for sources changing character. The " +
        "|p-q| sum is multiplied through by N_s*N so everything up to " +
        "the final division is exact BIGINT (absent-token tail handled " +
        "by algebra, never a vocab x sources cross space); one shuffle " +
        "builds (source, token) counts, global counts reduce FROM that " +
        "table, the rollup is source-keyed.",
      Some("""
        |WITH tok AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents
        |), st AS (
        |  SELECT source, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
        |), gt AS (
        |  SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY 1
        |), tot AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM st GROUP BY 1
        |), nn AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n FROM st
        |), g AS (
        |  SELECT st.source,
        |         max(tot.ns) AS n_tokens_src,
        |         CAST(sum(abs(st.c * nn.n - gt.ct * tot.ns)) AS BIGINT) AS present,
        |         CAST(sum(gt.ct) AS BIGINT) AS ct_present,
        |         max(nn.n) AS n
        |  FROM st JOIN gt USING (t) JOIN tot USING (source), nn
        |  GROUP BY 1
        |)
        |SELECT source, n_tokens_src,
        |       CAST(present + (n - ct_present) * n_tokens_src AS DOUBLE)
        |         / (2.0 * CAST(n_tokens_src AS DOUBLE) * CAST(n AS DOUBLE)) AS tv_distance
        |FROM g
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CorpusStats.sourceDrift(
          Tables.documents(spark, dir), "source", "text")
    ),
    Q(
      "q120_rank_blend",
      "Rank-blended ensemble quality: three integer signals (quality " +
        "band x4, token count, distinct words) rank-normalized corpus-" +
        "wide and summed — the scale-free signal combiner (rank " +
        "normalization is immune to signal units/outliers, the reason " +
        "ensembles blend ranks, not raw scores). The three rankings run " +
        "as ONE ShardedPrefix.globalRank pass over the STACKED (signal, " +
        "doc) stream — the signal is the rank group, so no corpus-sized " +
        "group ever serializes through one window task and one wide " +
        "exchange serves all three orderings; the (value, doc_id) total " +
        "order is encoded as value*2^32 + doc_id, exact in BIGINT.",
      Some(s"""
        |WITH feats AS (
        |  SELECT doc_id,
        |         CAST(LENGTH(text) AS DOUBLE) AS chars,
        |         CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS toks,
        |         len(regexp_extract_all(text, '[.!?,;:]')) AS punct,
        |         len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b')) AS stops,
        |         CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS dwords
        |  FROM documents
        |), v AS (
        |  SELECT doc_id,
        |         CAST(($qualitySql) * 4 AS BIGINT) AS quality4,
        |         CAST(toks AS BIGINT) AS ws_tokens, dwords
        |  FROM feats
        |), st AS (
        |  SELECT doc_id, 'quality' AS signal, quality4 AS value FROM v
        |  UNION ALL
        |  SELECT doc_id, 'tokens' AS signal, ws_tokens AS value FROM v
        |  UNION ALL
        |  SELECT doc_id, 'dwords' AS signal, dwords AS value FROM v
        |), r AS (
        |  SELECT doc_id, signal,
        |         CAST(row_number() OVER (
        |           PARTITION BY signal
        |           ORDER BY value * 4294967296 + doc_id) AS BIGINT) AS rnk
        |  FROM st
        |)
        |SELECT doc_id,
        |       max(CASE WHEN signal = 'quality' THEN rnk END) AS r_quality,
        |       max(CASE WHEN signal = 'tokens' THEN rnk END) AS r_tokens,
        |       max(CASE WHEN signal = 'dwords' THEN rnk END) AS r_dwords,
        |       CAST(sum(rnk) AS BIGINT) AS rank_sum
        |FROM r
        |GROUP BY 1
        |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.ShardedPrefix
        val v = Tables.documents(spark, dir).select(
          col("doc_id"),
          (TextAnalysis.qualityScore(col("text")) * 4).cast("long").as("quality4"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ws_tokens"),
          size(array_distinct(TextAnalysis.wsTokens(col("text")))).cast("long")
            .as("dwords"))
        val stacked = v.select(col("doc_id"),
            explode(array(
              struct(lit("quality").as("signal"), col("quality4").as("value")),
              struct(lit("tokens").as("signal"), col("ws_tokens").as("value")),
              struct(lit("dwords").as("signal"), col("dwords").as("value"))))
              .as("s"))
          .select(col("doc_id"), col("s.signal").as("signal"),
            col("s.value").as("value"))
          .withColumn("okey", col("value") * lit(4294967296L) + col("doc_id"))
        ShardedPrefix.globalRank(stacked, "signal", "okey", "rnk")
          .groupBy("doc_id")
          .agg(
            max(when(col("signal") === "quality", col("rnk"))).as("r_quality"),
            max(when(col("signal") === "tokens", col("rnk"))).as("r_tokens"),
            max(when(col("signal") === "dwords", col("rnk"))).as("r_dwords"),
            sum(col("rnk")).as("rank_sum"))
      }
    ),
    Q(
      "q127_oov_rate",
      "Vocabulary coverage audit: per document, the fraction of token " +
        "INSTANCES outside the corpus's top-200 tokens — the check run " +
        "before committing a tokenizer vocabulary (high OOV mass = the " +
        "vocab under-fits the corpus mix). One map-side-combined token " +
        "count, a TakeOrderedAndProject top-V (count DESC, token ASC " +
        "tiebreak — V rows, never a global sort), broadcast back over " +
        "the token stream, ONE doc-keyed rollup shuffle; the broadcast " +
        "is fixed-size at any corpus scale.",
      Some("""
        |WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents
        |), v AS (
        |  SELECT t, TRUE AS in_vocab FROM (
        |    SELECT t, count(*) AS c FROM tok GROUP BY t
        |    ORDER BY c DESC, t LIMIT 200)
        |)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(count(*) FILTER (WHERE v.in_vocab IS NULL) AS BIGINT) AS n_oov,
        |       CAST(count(*) FILTER (WHERE v.in_vocab IS NULL) AS DOUBLE)
        |         / count(*) AS oov_ratio
        |FROM tok LEFT JOIN v USING (t)
        |GROUP BY doc_id
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CorpusStats.oovRate(
          Tables.documents(spark, dir), "doc_id", "text", vocabSize = 200)
    ),
    Q(
      "q128_lang_consistency",
      "Chunk-level language consistency: q61's 50/40 sliding chunks each " +
        "language-ID'd with the q52 profile heuristic, rolled up per doc " +
        "to (n_chunks, n_langs, majority_lang, majority_frac) — the " +
        "mixed-language detector a doc-level language ID silently " +
        "mislabels (embedded code, concatenated crawls, translation " +
        "seams). Chunk explode narrow; one (doc, lang) shuffle bounded " +
        "by docs x languages; the doc rollup windows share one " +
        "exchange; majority argmax tiebreak (count DESC, lang ASC) is " +
        "deterministic.",
      Some("""
        |WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
        |), k AS (
        |  SELECT doc_id, toks,
        |         greatest(1, (len(toks) - 10 + 39) // 40) AS nch
        |  FROM t
        |), ch AS (
        |  SELECT doc_id,
        |         array_to_string(list_slice(toks, i * 40 + 1, i * 40 + 50), ' ') AS chunk_text
        |  FROM (SELECT doc_id, toks, unnest(range(0, nch)) AS i FROM k)
        |), m AS (
        |  SELECT doc_id,
        |         CAST(LENGTH(chunk_text) AS DOUBLE) AS chars,
        |         CAST(len(string_split_regex(trim(chunk_text), '\s+')) AS DOUBLE) AS toks,
        |         CAST(len(regexp_extract_all(chunk_text, '[\x{4e00}-\x{9fff}]')) AS DOUBLE) AS cjk,
        |         CAST(len(regexp_extract_all(lower(chunk_text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS s_en,
        |         CAST(len(regexp_extract_all(lower(chunk_text), '\b(der|die|das|und|ist|nicht|zu)\b')) AS DOUBLE) AS s_de,
        |         CAST(len(regexp_extract_all(lower(chunk_text), '\b(le|la|les|et|est|des|une)\b')) AS DOUBLE) AS s_fr,
        |         CAST(len(regexp_extract_all(lower(chunk_text), '\b(el|los|las|y|es|que|un)\b')) AS DOUBLE) AS s_es,
        |         len(regexp_extract_all(chunk_text, '[A-Za-z]')) AS letters
        |  FROM ch
        |), l AS (
        |  SELECT doc_id,
        |       CASE WHEN chars > 0 AND cjk / chars >= 0.05 THEN 'zh'
        |            WHEN toks > 0 AND s_en / toks >= 1.0/12.0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |            WHEN toks > 0 AND s_de / toks >= 1.0/12.0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
        |            WHEN toks > 0 AND s_fr / toks >= 1.0/12.0 AND s_fr >= s_es THEN 'fr'
        |            WHEN toks > 0 AND s_es / toks >= 1.0/12.0 THEN 'es'
        |            WHEN letters > 0 THEN 'und'
        |            ELSE 'zxx' END AS chunk_lang
        |  FROM m
        |), g AS (
        |  SELECT doc_id, chunk_lang, CAST(count(*) AS BIGINT) AS c
        |  FROM l GROUP BY 1, 2
        |), tot AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chunks,
        |         CAST(count(*) AS BIGINT) AS n_langs
        |  FROM g GROUP BY 1
        |)
        |SELECT g.doc_id, tot.n_chunks, tot.n_langs,
        |       g.chunk_lang AS majority_lang,
        |       CAST(g.c AS DOUBLE) / tot.n_chunks AS majority_frac
        |FROM g JOIN tot ON g.doc_id = tot.doc_id
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY g.doc_id ORDER BY g.c DESC, g.chunk_lang) = 1
        |""".stripMargin.trim),
      (spark, dir) =>
        TextAnalysis.langConsistency(
          Tables.documents(spark, dir), "text", "doc_id",
          chunkTokens = 50, overlap = 10)
    ),
    Q(
      "q137_token_rarity",
      "Per-document token rarity: sum over token instances of the " +
        "integer inverse frequency N div c_t — a log-free surprisal " +
        "proxy (libm ln differs across engines in the last ulp and a " +
        "sum of logs is order-dependent; this rational form is exact " +
        "BIGINT under any partitioning). q127's structural complement: " +
        "the rarity join runs the token stream against the FULL " +
        "vocabulary — the honest unbounded-vocab hash equi-join — " +
        "where q127 bounds its vocab at top-V to broadcast.",
      Some("""
        |WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents
        |), c AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS ct FROM tok GROUP BY 1
        |), n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok
        |)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(n_total // ct) AS BIGINT) AS rarity_sum,
        |       CAST(sum(n_total // ct) AS DOUBLE) / count(*) AS mean_rarity
        |FROM tok JOIN c USING (t), n
        |GROUP BY doc_id
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CorpusStats.tokenRarity(
          Tables.documents(spark, dir), "doc_id", "text")
    ),
    Q(
      "q186_rarity_sketch",
      "q137's documented sketch swap made real: token rarity with the " +
        "exact vocabulary count table replaced by a 4x64 count-min " +
        "matrix (q98's md5-salted hash family) baked into the plan as " +
        "a dense literal — the estimate is ROW-LOCAL (min of 4 " +
        "literal-array lookups inside codegen), so the token-keyed " +
        "hash join q137 pays against the FULL vocabulary disappears " +
        "and the only exchange is the doc rollup. CMS never " +
        "under-counts, so sketch rarity is a conservative LOWER bound " +
        "on exact rarity (spec-pinned); the matrix, estimates, and " +
        "the one final division are all deterministic integers, so " +
        "the oracle rebuilds the whole path bit for bit.",
      Some("""
        |WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents
        |), cells AS (
        |  SELECT CAST(r AS INTEGER) AS r,
        |         CAST('0x' || substr(md5('cm' || CAST(r AS VARCHAR) || ':' || t), 1, 8)
        |              AS BIGINT) % 64 AS c,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM tok, UNNEST(range(0, 4)) AS u(r)
        |  GROUP BY 1, 2
        |), n AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cells WHERE r = 0
        |), vr AS (
        |  SELECT t, CAST(r AS INTEGER) AS r,
        |         CAST('0x' || substr(md5('cm' || CAST(r AS VARCHAR) || ':' || t), 1, 8)
        |              AS BIGINT) % 64 AS c
        |  FROM (SELECT DISTINCT t FROM tok), UNNEST(range(0, 4)) AS u(r)
        |), e0 AS (
        |  SELECT vr.t AS t, min(coalesce(cells.cnt, 0)) AS est
        |  FROM vr LEFT JOIN cells ON cells.r = vr.r AND cells.c = vr.c
        |  GROUP BY 1
        |)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(n_total // est) AS BIGINT) AS rarity_sum,
        |       CAST(sum(n_total // est) AS DOUBLE) / count(*) AS mean_rarity
        |FROM tok JOIN e0 USING (t) CROSS JOIN n
        |GROUP BY doc_id
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CorpusStats.tokenRaritySketch(
          Tables.documents(spark, dir), "doc_id", "text",
          depth = 4, width = 64)
    ),
    Q(
      "q129_corpus_report",
      "Per-source dataset card: doc/token counts, mean length, mean " +
        "quality, and the count of docs duplicated ANYWHERE in the " +
        "corpus — the summary table a data release ships. Quality " +
        "averages via the integer quality4 sum (quality is k/4 by " +
        "construction, so sum(q4)/(4n) is division of exact integers — " +
        "no double accumulation order). The dup screen joins (source, " +
        "hash) rows against the hash-count table: bodies never " +
        "shuffle; the source rollup is map-side combined.",
      Some("""
        |WITH d AS (
        |  SELECT source, doc_id, sha256(text) AS h,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks,
        |         ((CASE WHEN chars / greatest(toksd, 1.0) BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END)
        |          + (CASE WHEN CAST(punct AS DOUBLE) / greatest(toksd, 1.0) <= 0.3 THEN 1 ELSE 0 END)
        |          + (CASE WHEN CAST(stops AS DOUBLE) / greatest(toksd, 1.0) >= 0.05 THEN 1 ELSE 0 END)
        |          + (CASE WHEN chars BETWEEN 50.0 AND 100000.0 THEN 1 ELSE 0 END)) AS q4
        |  FROM (
        |    SELECT source, doc_id, text,
        |           CAST(LENGTH(text) AS DOUBLE) AS chars,
        |           CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS toksd,
        |           len(regexp_extract_all(text, '[.!?,;:]')) AS punct,
        |           len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS stops
        |    FROM documents
        |  )
        |), dup AS (
        |  SELECT h, count(*) AS c FROM d GROUP BY h
        |)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(toks) AS BIGINT) AS tokens,
        |       CAST(sum(toks) AS DOUBLE) / count(*) AS mean_tokens,
        |       CAST(sum(q4) AS DOUBLE) / (count(*) * 4.0) AS mean_quality,
        |       CAST(count(*) FILTER (WHERE c > 1) AS BIGINT) AS n_dup_docs
        |FROM d JOIN dup USING (h)
        |GROUP BY source
        |""".stripMargin.trim),
      (spark, dir) => {
        val d = Tables.documents(spark, dir).select(
          col("source"),
          sha2(col("text"), 256).as("h"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("toks"),
          (TextAnalysis.qualityScore(col("text")) * 4).cast("long").as("q4"))
        val dup = d.groupBy("h").agg(count(lit(1)).as("c"))
        d.join(dup, Seq("h"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("toks").as("tokens"),
            sum("q4").as("__q4"),
            sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
          .select(
            col("source"), col("n_docs"), col("tokens"),
            (col("tokens").cast("double") / col("n_docs").cast("double"))
              .as("mean_tokens"),
            (col("__q4").cast("double") /
              (col("n_docs").cast("double") * lit(4.0))).as("mean_quality"),
            col("n_dup_docs"))
      }
    ),
    Q(
      "q162_countmin_fold",
      "Count-min sketch fold — the ADDITIVE-monoid counterpart of the " +
        "q160 HLL fold: the stored 4x64 count matrix over 'yesterday' " +
        "(even doc_ids) absorbs an arrival batch (odd ids) by " +
        "sketching ONLY the arrivals and cell-wise SUMMING. Counting a " +
        "disjoint multiset union cell by cell IS counting the union, " +
        "so the merged matrix equals the full-corpus sketch cell for " +
        "cell (the oracle recomputes it from scratch). Where the HLL " +
        "max-merge is idempotent under replay, the sum-merge is not — " +
        "each item counts into exactly one input, the exactly-once " +
        "ingest contract (documented on CountMin.merge). Constant " +
        "256-cell state however large the summarized corpus.",
      Some("""
        |WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents
        |), cells AS (
        |  SELECT CAST(r AS INTEGER) AS r,
        |         CAST('0x' || substr(md5('cm' || CAST(r AS VARCHAR) || ':' || tok), 1, 8)
        |              AS BIGINT) % 64 AS c
        |  FROM toks, UNNEST(range(0, 4)) AS u(r)
        |)
        |SELECT r, c, count(*) AS cnt
        |FROM cells GROUP BY 1, 2
        |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.{CountMin, TextAnalysis}
        CmPhases.ensureStored(spark, dir)
        val arrivals = Tables.documents(spark, dir)
          .filter(col("doc_id") % 2 === 1)
          .select(explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
        CountMin.merge(
          spark.table(CmPhases.cmTable(dir)),
          CountMin.sketch(arrivals, "tok", depth = 4, width = 64))
      },
      bench = Seq(
        Phase.build("q162_cm_stored_build")(CmPhases.buildStored),
        Phase.Self)
    ),
    Q(
      "q160_hll_sketch_fold",
      "Incremental corpus statistics via sketch merge — the STATISTICS " +
        "face of the incremental discipline, and the reason sketches " +
        "are in the engine at all: the stored per-source HLL register " +
        "table (q103's sketch over 'yesterday', even doc_ids) absorbs " +
        "an arrival batch (odd ids) by sketching ONLY the arrivals and " +
        "taking the cell-wise max — the sketch-union monoid. No raw " +
        "re-scan of the existing corpus, constant-size state per " +
        "source, and because registers are deterministic maxima the " +
        "merged table EQUALS the sketch of the full corpus register " +
        "for register (which is what the oracle computes from " +
        "scratch). At 100 TB the stored registers are KB per source " +
        "while the corpus they summarize is the 100 TB.",
      Some("""
        |WITH toks AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents
        |), hr AS (
        |  SELECT source,
        |         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) & 63 AS bucket,
        |         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) >> 6 AS w
        |  FROM toks
        |)
        |SELECT source, bucket,
        |       CAST(max(CASE WHEN w = 0 THEN 27
        |                     ELSE 27 - length(bin(w)) END) AS INTEGER) AS register
        |FROM hr GROUP BY 1, 2
        |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.{HyperLogLog, TextAnalysis}
        HllPhases.ensureStored(spark, dir)
        val arrivals = Tables.documents(spark, dir)
          .filter(col("doc_id") % 2 === 1)
          .select(col("source"), explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
        HyperLogLog.merge(
          spark.table(HllPhases.registerTable(dir)),
          HyperLogLog.registers(arrivals, "tok", Seq("source"), p = 6),
          Seq("source"))
      },
      bench = Seq(
        Phase.build("q160_hll_stored_build")(HllPhases.buildStored),
        Phase.Self)
    ),
    Q(
      "q157_benchmark_fold",
      "Benchmark-VERSION fold — the third face of the incremental " +
        "discipline (components: corpus arrivals; IVF delta segment: " +
        "index arrivals; here the SCREEN side grows): a new benchmark " +
        "version (doc_id % 10 = 5) folds into the stored v1 " +
        "decontamination product (report + gram set, doc_id % 10 = 0) " +
        "WITHOUT the v1 documents — novel grams = grams(v2) anti-joined " +
        "against the stored gram set (benchmark-sized broadcast), and " +
        "hit counts are additive across disjoint gram sets, so one " +
        "corpus screen against the novel grams yields exactly the " +
        "from-scratch union report (which the oracle floods). The " +
        "corpus scan is not saved (screens are scan-shaped); saved: the " +
        "archived v1 docs, the broadcast width, the stored counts. The " +
        "corpus-arrival face is the streaming twin (decontaminated).",
      Some("""
        |WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 7, 0) + 1),
        |    i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS g
        |  FROM t
        |), bench AS (
        |  SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0 OR doc_id % 10 = 5
        |), hits AS (
        |  SELECT c.doc_id, COUNT(*) AS hits
        |  FROM (SELECT doc_id, g FROM g WHERE doc_id % 10 <> 0 AND doc_id % 10 <> 5) c
        |  JOIN bench b ON c.g = b.g
        |  GROUP BY 1
        |)
        |SELECT d.doc_id,
        |       CAST(COALESCE(h.hits, 0) AS BIGINT) AS n_hits,
        |       COALESCE(h.hits, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0 AND doc_id % 10 <> 5) d
        |LEFT JOIN hits h ON h.doc_id = d.doc_id
        |""".stripMargin.trim),
      (spark, dir) => {
        DecontamPhases.ensureStored(spark, dir)
        val docs = Tables.documents(spark, dir)
        Decontaminate.foldNewBenchmark(
          spark.table(DecontamPhases.reportTable(dir)),
          spark.table(DecontamPhases.gramTable(dir)),
          corpus = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5),
          newBenchmark = docs.filter(col("doc_id") % 10 === 5),
          textCol = "text", idCol = "doc_id")._1
      },
      bench = Seq(
        Phase.build("q157_decontam_v1_build")(DecontamPhases.buildStored),
        Phase.Self)
    ),
    Q(
      "q163_hdr_sketch_fold",
      "HDR histogram fold — the QUANTILE face of the sketch-serving " +
        "discipline (q160 HLL max / q162 count-min sum / here cell-wise " +
        "count addition on the (e, sub) key space): the stored q108 " +
        "histogram over 'yesterday' (even doc_ids) absorbs an arrival " +
        "batch (odd ids) by sketching ONLY the arrivals and summing " +
        "cells. Counting a disjoint union cell by cell IS counting the " +
        "union, so the merged histogram equals the full-corpus sketch " +
        "cell for cell (the oracle recomputes it from scratch) — and " +
        "every quantile (the q109 walk) re-derives from the merged " +
        "sketch without touching raw data. Same exactly-once ingest " +
        "contract as count-min (sum is not idempotent). Constant " +
        "(source x cell) state however large the summarized corpus.",
      Some("""
        |WITH v AS (
        |  SELECT source,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS toks
        |  FROM documents
        |), cells AS (
        |  SELECT source, toks,
        |         CASE WHEN toks = 0 THEN -1
        |              ELSE CAST(length(bin(toks)) AS INTEGER) - 1 END AS e
        |  FROM v
        |)
        |SELECT source, e,
        |       CASE WHEN e <= 4 THEN toks ELSE toks >> (e - 4) END AS sub,
        |       count(*) AS cnt
        |FROM cells GROUP BY 1, 2, 3
        |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.{HdrSketch, TextAnalysis}
        HdrPhases.ensureStored(spark, dir)
        val arrivals = Tables.documents(spark, dir)
          .filter(col("doc_id") % 2 === 1)
          .select(col("source"), TextAnalysis.tokenCount(col("text")).as("toks"))
        HdrSketch.merge(
          spark.table(HdrPhases.hdrTable(dir)),
          HdrSketch.sketch(arrivals, "toks", Seq("source"), subBits = 4),
          Seq("source"))
      },
      bench = Seq(
        Phase.build("q163_hdr_stored_build")(HdrPhases.buildStored),
        Phase.Self)
    ),
    Q(
      "q164_kmv_fold",
      "KMV register fold — the DISTINCT-SAMPLE face of the " +
        "sketch-serving discipline, and the fourth monoid in the family " +
        "(HLL: max, count-min/HDR: sum, KMV: distinct-union-take-k): " +
        "the stored q54 per-source registers over 'yesterday' (even " +
        "doc_ids) absorb an arrival batch (odd ids) by sketching ONLY " +
        "the arrivals and re-minimizing — kmin_k(A u B) = " +
        "kmin_k(kmin_k(A) u kmin_k(B)), the classic KMV union " +
        "property, so the fold equals the full-corpus sketch exactly " +
        "(the oracle rebuilds it from scratch). The kmin array is " +
        "idempotent under replay like HLL's max; the n_docs count is " +
        "additive-only like count-min's cells — one operator carrying " +
        "both replay contracts, which is why they are documented per " +
        "column. Register-sized state and shuffle (k longs per " +
        "source), corpus-size-independent.",
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
      (spark, dir) => {
        import graft.functions.KMinSketch
        KmvPhases.ensureStored(spark, dir)
        val arrivals = Tables.documents(spark, dir)
          .filter(col("doc_id") % 2 === 1)
          .select(col("source"),
            graft.operators.TextAnalysis.portableHash32(col("text")).as("h"))
          .groupBy("source")
          .agg(KMinSketch.kmin(col("h"), 8).as("kmin"),
            count(lit(1)).as("n_docs"))
        KMinSketch.mergeRegisters(
          spark.table(KmvPhases.kmvTable(dir)), arrivals, Seq("source"), k = 8)
          .select(col("source"),
            array_join(col("kmin").cast("array<string>"), ",").as("kmin"),
            col("n_docs"))
      },
      bench = Seq(
        Phase.build("q164_kmv_stored_build")(KmvPhases.buildStored),
        Phase.Self)
    ),
    Q(
      "q169_collocation_lift",
      "Collocation mining by PMI-style lift: adjacent token pairs " +
        "(n_xy >= 5) flagged when observed frequency beats independence " +
        "10x — lift = n_xy*N^2 / (T*n_x*n_y). The vocabulary-induction " +
        "signal q96's raw pair counts miss: 'of the' tops any count " +
        "list at lift ~ 1 while a true multiword term is rare-but-" +
        "bound. The comparison runs in exact DECIMAL(38,0) (N^2-sized " +
        "products overflow int64 at real corpus sizes; the oracle " +
        "mirrors in HUGEINT), so the flag is engine-exact; counts ride " +
        "along for offline lift derivation. One map-side-combined " +
        "shuffle on the pair; the vocab-sized unigram table joins back " +
        "token-keyed; the 1-row totals broadcast — the corpus never " +
        "reshuffles.",
      Some("""
        |WITH toks AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
        |), pr AS (
        |  SELECT t[i] AS x, t[i+1] AS y
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)
        |), bi AS (
        |  SELECT x, y, count(*) AS n_xy FROM pr GROUP BY 1, 2
        |), uni AS (
        |  SELECT tok, count(*) AS n
        |  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT CAST(sum(n) AS BIGINT) FROM uni) AS n_total,
        |         (SELECT CAST(sum(n_xy) AS BIGINT) FROM bi) AS t_pairs
        |)
        |SELECT b.x, b.y, b.n_xy, ux.n AS n_x, uy.n AS n_y,
        |       tot.n_total, tot.t_pairs,
        |       CAST(b.n_xy AS HUGEINT) * tot.n_total * tot.n_total >
        |         10 * CAST(tot.t_pairs AS HUGEINT) * ux.n * uy.n AS high_lift
        |FROM bi b
        |JOIN uni ux ON ux.tok = b.x
        |JOIN uni uy ON uy.tok = b.y
        |CROSS JOIN tot
        |WHERE b.n_xy >= 5
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.CorpusStats.collocationLift(
          Tables.documents(spark, dir), "text", minCount = 5L, liftFloor = 10)
    ),
    Q(
      "q204_repetition_screen",
      "Gopher-style REPETITION screen (Rae et al. 2021 A1.1): per-doc " +
        "top-word fraction and duplicated 2-/3-gram mass fractions — " +
        "the looped-text signal (boilerplate loops, keyword stuffing, " +
        "scraper glitches) that mean-statistic quality scores (q50) " +
        "cannot see. Every numerator/denominator is an exact integer " +
        "count and each fraction one exact-operand double division, so " +
        "the oracle reproduces the doubles bit for bit; keep = " +
        s"top_word_frac <= $RepTopWordMax AND dup3_frac <= $RepDup3Max " +
        "(thresholds sit at ~p85/p97 of the fixture distribution, so " +
        "the screen genuinely splits the corpus). One narrow gram " +
        "explode per size, aggregated (doc_id, gram) with map-side " +
        "combine, then doc-keyed rollups — nothing but doc-keyed " +
        "partials ever shuffles, at any corpus size.",
      Some(s"""
        |WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
        |), base AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks FROM toks
        |), w AS (
        |  SELECT doc_id, MAX(c) AS top_word_cnt FROM (
        |    SELECT doc_id, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY doc_id, w)
        |  GROUP BY doc_id
        |), g2 AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup2_mass FROM (
        |    SELECT doc_id, COUNT(*) AS c FROM (
        |      SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
        |      FROM toks, UNNEST(range(1, len(t))) AS u(i)) GROUP BY doc_id, g)
        |  WHERE c >= 2 GROUP BY doc_id
        |), g3 AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup3_mass FROM (
        |    SELECT doc_id, COUNT(*) AS c FROM (
        |      SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)) GROUP BY doc_id, g)
        |  WHERE c >= 2 GROUP BY doc_id
        |)
        |SELECT b.doc_id, b.n_toks,
        |       CAST(COALESCE(w.top_word_cnt, 0) AS BIGINT) AS top_word_cnt,
        |       CAST(COALESCE(g2.dup2_mass, 0) AS BIGINT) AS dup2_mass,
        |       CAST(COALESCE(g3.dup3_mass, 0) AS BIGINT) AS dup3_mass,
        |       CASE WHEN b.n_toks > 0
        |            THEN CAST(COALESCE(w.top_word_cnt, 0) AS DOUBLE) / CAST(b.n_toks AS DOUBLE)
        |            ELSE 0.0 END AS top_word_frac,
        |       CASE WHEN b.n_toks - 1 > 0
        |            THEN CAST(COALESCE(g2.dup2_mass, 0) AS DOUBLE) / CAST(b.n_toks - 1 AS DOUBLE)
        |            ELSE 0.0 END AS dup2_frac,
        |       CASE WHEN b.n_toks - 2 > 0
        |            THEN CAST(COALESCE(g3.dup3_mass, 0) AS DOUBLE) / CAST(b.n_toks - 2 AS DOUBLE)
        |            ELSE 0.0 END AS dup3_frac,
        |       (CASE WHEN b.n_toks > 0
        |             THEN CAST(COALESCE(w.top_word_cnt, 0) AS DOUBLE) / CAST(b.n_toks AS DOUBLE)
        |             ELSE 0.0 END) <= $RepTopWordMax
        |         AND
        |       (CASE WHEN b.n_toks - 2 > 0
        |             THEN CAST(COALESCE(g3.dup3_mass, 0) AS DOUBLE) / CAST(b.n_toks - 2 AS DOUBLE)
        |             ELSE 0.0 END) <= $RepDup3Max AS keep
        |FROM base b
        |LEFT JOIN w USING (doc_id)
        |LEFT JOIN g2 USING (doc_id)
        |LEFT JOIN g3 USING (doc_id)
        |""".stripMargin.trim),
      (spark, dir) =>
        graft.operators.TextAnalysis.repetitionStats(
          Tables.documents(spark, dir), "doc_id", "text",
          topWordMax = RepTopWordMax, dup3Max = RepDup3Max)
    ),
    Q(
      "q205_corpus_rollup",
      "Corpus composition report with SUBTOTALS — doc/token/char mass " +
        "by (source, lang), per-source subtotals, and the grand total " +
        "in ONE pass via ROLLUP (the dataset-card table every training " +
        "pipeline publishes). First grouping-sets operator in the " +
        "registry: Spark plans it as a single Expand + hash aggregate " +
        "(each input row replicated once per grouping set, all three " +
        "levels map-side combined — one shuffle regardless of level " +
        "count, vs three self-unioned scans by hand). grouping_id " +
        "disambiguates subtotal NULLs from data NULLs, pinned against " +
        "DuckDB's GROUPING(source, lang) bit order.",
      Some("""
        |SELECT source, lang,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |       CAST(GROUPING(source, lang) AS BIGINT) AS gid
        |FROM documents
        |GROUP BY ROLLUP (source, lang)
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.documents(spark, dir)
          .rollup("source", "lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(graft.operators.TextAnalysis.tokenCount(col("text"))
              .cast("long")).as("n_tokens"),
            sum(length(col("text")).cast("long")).as("n_chars"),
            grouping_id().as("gid"))
    ),
    Q(
      "q221_langid_confusion",
      "Language-label CONFUSION MATRIX — the metadata-trust audit on " +
        "top of q52: declared `lang` column vs the heuristic's verdict, " +
        "counted per (declared, predicted) cell. Off-diagonal mass is " +
        "metadata rot or heuristic drift; either way a per-language " +
        "mixture built on the declared column is mispriced, and this " +
        "matrix is the number that says by how much. The fixture makes " +
        "the audit's point for it: declared labels are synthetic-random " +
        "while the text is English-profiled, and the matrix exposes " +
        "exactly that disagreement (LangConsistencySpec carries the " +
        "heuristic's own accuracy pins on labeled fixtures). One " +
        "map-side-combined shuffle on the tiny (lang x lang) key " +
        "space; the prediction is the same codegen'd expression as " +
        "q52, computed in the scan projection.",
      Some("""
        |SELECT lang_declared, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM (
        |  SELECT lang AS lang_declared,
        |       CASE WHEN chars > 0 AND cjk / chars >= 0.05 THEN 'zh'
        |            WHEN toks > 0 AND s_en / toks >= 1.0/12.0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |            WHEN toks > 0 AND s_de / toks >= 1.0/12.0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
        |            WHEN toks > 0 AND s_fr / toks >= 1.0/12.0 AND s_fr >= s_es THEN 'fr'
        |            WHEN toks > 0 AND s_es / toks >= 1.0/12.0 THEN 'es'
        |            WHEN letters > 0 THEN 'und'
        |            ELSE 'zxx' END AS lang_pred
        |  FROM (
        |    SELECT doc_id, lang,
        |           CAST(LENGTH(text) AS DOUBLE) AS chars,
        |           CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS toks,
        |           CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS DOUBLE) AS cjk,
        |           CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|a)\b')) AS DOUBLE) AS s_en,
        |           CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|zu)\b')) AS DOUBLE) AS s_de,
        |           CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|des|une)\b')) AS DOUBLE) AS s_fr,
        |           CAST(len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|que|un)\b')) AS DOUBLE) AS s_es,
        |           len(regexp_extract_all(text, '[A-Za-z]')) AS letters
        |    FROM documents
        |  )
        |)
        |GROUP BY 1, 2
        |""".stripMargin.trim),
      (spark, dir) =>
        Tables.documents(spark, dir)
          .select(
            col("lang").as("lang_declared"),
            graft.operators.TextAnalysis.langIdHeuristic(col("text"))
              .as("lang_pred"))
          .groupBy("lang_declared", "lang_pred")
          .agg(count(lit(1)).as("n_docs"))
    ),
    Q(
      "q222_quality_calibration",
      "Score-calibration audit: per quality DECILE, the fraction of " +
        "documents the q204 repetition screen keeps — do the two " +
        "quality signals agree, and where? A score that is flat (or " +
        "inverted) against an independent screen is mispricing the " +
        "corpus; this is the diagnostic a pipeline publishes before " +
        "trusting q50's score as a budget-fill key (q206/q213 order by " +
        "it). Deciles come from the exact corpus-wide rank — " +
        "ShardedPrefix.globalRank over the (quality4, doc_id) " +
        "composite key, NEVER a single-task global window — with " +
        "decile = (rank-1)*10 div N, an integer boundary both engines " +
        "compute identically. n_docs/n_kept exact BIGINTs, keep_rate " +
        "their one double quotient.",
      Some(s"""
        |WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
        |), base AS (
        |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks FROM toks
        |), w AS (
        |  SELECT doc_id, MAX(c) AS top_word_cnt FROM (
        |    SELECT doc_id, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY doc_id, w)
        |  GROUP BY doc_id
        |), g3 AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dup3_mass FROM (
        |    SELECT doc_id, COUNT(*) AS c FROM (
        |      SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
        |      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)) GROUP BY doc_id, g)
        |  WHERE c >= 2 GROUP BY doc_id
        |), kp AS (
        |  SELECT b.doc_id,
        |         (CASE WHEN b.n_toks > 0
        |               THEN CAST(COALESCE(w.top_word_cnt, 0) AS DOUBLE) / CAST(b.n_toks AS DOUBLE)
        |               ELSE 0.0 END) <= $RepTopWordMax
        |           AND
        |         (CASE WHEN b.n_toks - 2 > 0
        |               THEN CAST(COALESCE(g3.dup3_mass, 0) AS DOUBLE) / CAST(b.n_toks - 2 AS DOUBLE)
        |               ELSE 0.0 END) <= $RepDup3Max AS keep
        |  FROM base b LEFT JOIN w USING (doc_id) LEFT JOIN g3 USING (doc_id)
        |), sc AS (
        |  SELECT doc_id, CAST(($qualitySql) * 4 AS BIGINT) AS q4 FROM (
        |    SELECT doc_id,
        |           CAST(LENGTH(text) AS DOUBLE) AS chars,
        |           CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS toks,
        |           CAST(len(regexp_extract_all(text, '[.!?,;:]')) AS DOUBLE) AS punct,
        |           CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b')) AS DOUBLE) AS stops
        |    FROM documents
        |  )
        |), rk AS (
        |  SELECT kp.keep,
        |         ROW_NUMBER() OVER (ORDER BY sc.q4, sc.doc_id) AS rnk,
        |         COUNT(*) OVER () AS n
        |  FROM sc JOIN kp USING (doc_id)
        |)
        |SELECT decile,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(*) FILTER (keep) AS BIGINT) AS n_kept,
        |       CAST(COUNT(*) FILTER (keep) AS DOUBLE) / COUNT(*) AS keep_rate
        |FROM (SELECT keep, CAST((rnk - 1) * 10 // n + 1 AS BIGINT) AS decile FROM rk)
        |GROUP BY decile
        |""".stripMargin.trim),
      (spark, dir) => {
        import graft.operators.{ShardedPrefix, TextAnalysis}
        val docs = Tables.documents(spark, dir)
        val rep = TextAnalysis.repetitionStats(
            docs, "doc_id", "text", RepTopWordMax, RepDup3Max)
          .select(col("doc_id"), col("keep"))
        // quality is k/4 by construction, so quality*4 casts exactly;
        // the composite (q4 << 40) + doc_id key makes the rank order
        // (quality ASC, doc_id ASC) with a unique orderable long
        val scored = docs.select(
            col("doc_id"),
            (TextAnalysis.qualityScore(col("text")) * 4).cast("long").as("q4"))
          .join(rep, Seq("doc_id"))
          .withColumn("__g", lit(1))
          .withColumn("__okey", col("q4") * lit(1L << 40) + col("doc_id"))
        val ranked = ShardedPrefix.globalRank(scored, "__g", "__okey", "__rank")
        val nRow = docs.agg(count(lit(1)).as("__n"))
        ranked.crossJoin(broadcast(nRow))
          // `div`, not `/`: Spark's `/` on longs is DOUBLE division —
          // the integer boundary must be integer arithmetic end to end
          .withColumn("decile", expr("((__rank - 1) * 10) div __n") + 1L)
          .groupBy("decile")
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(col("keep"), lit(1))).as("n_kept"))
          .withColumn("keep_rate",
            col("n_kept").cast("double") / col("n_docs").cast("double"))
      }
    )
  )
}

/** The stored "yesterday" HDR histogram behind q163: per-source (e, sub,
  * cnt) cells over the even half of the corpus, persisted once per input
  * dir — q160's discipline on the quantile sketch.
  */
object HdrPhases {
  import org.apache.spark.sql.SparkSession
  import graft.operators.{HdrSketch, TextAnalysis}

  def hdrTable(dir: String): String = s"graft_hdrsk_${Q.scratchTag(dir)}"

  def buildStored(spark: SparkSession, dir: String): Unit = {
    val existing = Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 0)
      .select(col("source"), TextAnalysis.tokenCount(col("text")).as("toks"))
    Products.store(
      HdrSketch.sketch(existing, "toks", Seq("source"), subBits = 4), hdrTable(dir))
  }

  def ensureStored(spark: SparkSession, dir: String): Unit =
    Products.ensure(spark, hdrTable(dir))(buildStored(spark, dir))
}

/** The stored "yesterday" KMV registers behind q164: per-source
  * (kmin array, n_docs) over the even half of the corpus, persisted once
  * per input dir — the constant-size distinct-sample state a serving
  * pipeline re-minimizes arrival sketches into.
  */
object KmvPhases {
  import org.apache.spark.sql.SparkSession
  import graft.functions.KMinSketch

  def kmvTable(dir: String): String = s"graft_kmvreg_${Q.scratchTag(dir)}"

  def buildStored(spark: SparkSession, dir: String): Unit = {
    val existing = Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 0)
      .select(col("source"),
        graft.operators.TextAnalysis.portableHash32(col("text")).as("h"))
      .groupBy("source")
      .agg(KMinSketch.kmin(col("h"), 8).as("kmin"),
        count(lit(1)).as("n_docs"))
    Products.store(existing, kmvTable(dir))
  }

  def ensureStored(spark: SparkSession, dir: String): Unit =
    Products.ensure(spark, kmvTable(dir))(buildStored(spark, dir))
}

/** The stored "yesterday" HLL register table behind q160: per-source
  * registers over the even half of the corpus, persisted once per input
  * dir — the constant-size statistics state a serving pipeline folds
  * arrival sketches into (never re-scanning the summarized corpus).
  */
object HllPhases {
  import org.apache.spark.sql.SparkSession
  import graft.operators.{HyperLogLog, TextAnalysis}

  def registerTable(dir: String): String = s"graft_hllreg_${Q.scratchTag(dir)}"

  def buildStored(spark: SparkSession, dir: String): Unit = {
    val existing = Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 0)
      .select(col("source"), explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
    Products.store(
      HyperLogLog.registers(existing, "tok", Seq("source"), p = 6), registerTable(dir))
  }

  def ensureStored(spark: SparkSession, dir: String): Unit =
    Products.ensure(spark, registerTable(dir))(buildStored(spark, dir))
}

/** The stored "yesterday" count-min matrix behind q162: the 4x64 count
  * table over the even half of the corpus, persisted once per input dir
  * — q160's discipline on the additive-monoid sketch.
  */
object CmPhases {
  import org.apache.spark.sql.SparkSession
  import graft.operators.{CountMin, TextAnalysis}

  def cmTable(dir: String): String = s"graft_cmsk_${Q.scratchTag(dir)}"

  def buildStored(spark: SparkSession, dir: String): Unit = {
    val existing = Tables.documents(spark, dir)
      .filter(col("doc_id") % 2 === 0)
      .select(explode(TextAnalysis.wsTokens(col("text"))).as("tok"))
    Products.store(
      CountMin.sketch(existing, "tok", depth = 4, width = 64), cmTable(dir))
  }

  def ensureStored(spark: SparkSession, dir: String): Unit =
    Products.ensure(spark, cmTable(dir))(buildStored(spark, dir))
}

/** The stored v1 decontamination product behind q157: the per-doc report
  * and the benchmark gram set (= the screen), materialized once per
  * input dir — what a serving pipeline holds between benchmark releases.
  * The bench times the v1 build as its own line so the FOLD's number is
  * the per-release cost, not build+fold.
  */
object DecontamPhases {
  import org.apache.spark.sql.SparkSession

  def reportTable(dir: String): String = s"graft_dcta_rep_${Q.scratchTag(dir)}"
  def gramTable(dir: String): String = s"graft_dcta_grams_${Q.scratchTag(dir)}"

  /** One-shot: v1 report (corpus screened against doc_id % 10 = 0) and
    * the v1 gram set, both persisted. Report bucketed by doc id so the
    * fold's count join reads it without an exchange on the stored side.
    */
  def buildStored(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5)
    val v1 = docs.filter(col("doc_id") % 10 === 0)
    val rep = Decontaminate.report(corpus, v1, "text", "doc_id")
    graft.operators.Bucketing.writeBucketed(rep, reportTable(dir), "doc_id", 4)
    Products.store(Decontaminate.benchGramSet(v1, "text"), gramTable(dir))
  }

  def ensureStored(spark: SparkSession, dir: String): Unit =
    Products.ensure(spark, reportTable(dir), gramTable(dir))(buildStored(spark, dir))
}
