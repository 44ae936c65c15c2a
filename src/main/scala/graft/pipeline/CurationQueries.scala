package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Gate certification for the corpus-curation operators ([[Curation]]):
  * benchmark decontamination, repetition quality filtering, per-source
  * quota capping. Each oracle replays the full derivation in DuckDB SQL.
  */
object CurationQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- d16: eval-set contamination check. Documents with
  // doc_id % 50 == 0 stand in for a benchmark/eval set; every other
  // document is reported with the number of distinct word-5-shingles it
  // shares with that set (the n-gram-overlap decontamination standard).
  // Spark joins 8-byte xxhash64 shingles against the BROADCAST eval set
  // (corpus text never shuffles); the oracle joins the shingle strings
  // themselves — counts agree because both sides count distinct shingles
  // per document. ----
  private def d16(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isEval = col("doc_id") % 50 === 0
    Curation.contamination(
        d.filter(!isEval), d.filter(isEval), "text", "doc_id", k = 5)
      .select(col("id").as("doc_id"), col("n_shared"))
      .orderBy("doc_id")
  }

  private val d16Oracle =
    """WITH w AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(ws) >= 5 THEN
      |      list_transform(generate_series(1, len(ws) - 4),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
      |    ELSE CAST([] AS VARCHAR[]) END) AS shingles
      |  FROM w),
      |idx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |ev AS (SELECT DISTINCT shingle FROM idx WHERE doc_id % 50 = 0)
      |SELECT doc_id, COUNT(*) AS n_shared
      |FROM idx JOIN ev USING (shingle)
      |WHERE doc_id % 50 <> 0
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- d17: repetition-based quality stats + keep flag (Gopher/C4
  // family). Integer per-mille scores so both engines compute identical
  // values (no float rounding drift); thresholds chosen to actually
  // split the fixture (dup_pm spans 0–723, top_pm 51–300). ----
  private def d17(s: SparkSession, dir: String): DataFrame =
    Curation.repetitionStats(docs(s, dir), "text", "doc_id",
        maxDupPm = 600, maxTopPm = 150)
      .orderBy("doc_id")

  private val d17Oracle =
    """WITH w AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents)
      |SELECT doc_id,
      |  len(ws)::BIGINT AS n_tokens,
      |  len(list_distinct(ws))::BIGINT AS n_distinct,
      |  CASE WHEN len(ws) > 0
      |    THEN (1000 * (len(ws) - len(list_distinct(ws)))) // len(ws)
      |    ELSE 0 END::BIGINT AS dup_pm,
      |  CASE WHEN len(ws) > 0
      |    THEN (1000 * list_max(list_transform(list_distinct(ws),
      |           t -> len(list_filter(ws, x -> x = t))))) // len(ws)
      |    ELSE 0 END::BIGINT AS top_pm,
      |  CASE WHEN
      |    (CASE WHEN len(ws) > 0
      |       THEN (1000 * (len(ws) - len(list_distinct(ws)))) // len(ws)
      |       ELSE 0 END) <= 600
      |    AND
      |    (CASE WHEN len(ws) > 0
      |       THEN (1000 * list_max(list_transform(list_distinct(ws),
      |              t -> len(list_filter(ws, x -> x = t))))) // len(ws)
      |       ELSE 0 END) <= 150
      |  THEN 1 ELSE 0 END::BIGINT AS keep
      |FROM w ORDER BY doc_id""".stripMargin

  // ---- d18: per-source quota cap — at most 10 documents per source,
  // chosen by the sha-replayable hash rank (same two-phase histogram
  // machinery as d12, absolute quota instead of a fraction). The oracle
  // replays the reference ranking: ROW_NUMBER per source over
  // (sha-bucket, doc_id), keep rk <= 10. ----
  private def d18(s: SparkSession, dir: String): DataFrame =
    Curation.sourceQuota(docs(s, dir), "source", "doc_id",
        maxPerSource = 10, seed = 42L, bucketFn = Sampling.shaBucket)
      .select("doc_id", "source")
      .orderBy("doc_id")

  private val d18Oracle =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY b, doc_id) AS rk
      |  FROM (SELECT doc_id, source,
      |          ('0x' || substr(sha256('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
      |        FROM documents))
      |WHERE rk <= 10 ORDER BY doc_id""".stripMargin

  // ---- d19: weighted corpus mixing — per-source document budgets.
  // The fixture's 20 sources get quotas 5/10/15/20 cycling by source
  // index (srcN → 5·(N%4+1)); the oracle replays the ranking with the
  // quota as a CASE over the parsed source index. ----
  private val mixQuotas: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (5L * (i % 4 + 1))).toMap

  private def d19(s: SparkSession, dir: String): DataFrame =
    Curation.mixBySource(docs(s, dir), "source", "doc_id",
        quotas = mixQuotas, seed = 42L, bucketFn = Sampling.shaBucket)
      .select("doc_id", "source")
      .orderBy("doc_id")

  private val d19Oracle =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY b, doc_id) AS rk
      |  FROM (SELECT doc_id, source,
      |          ('0x' || substr(sha256('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
      |        FROM documents))
      |WHERE rk <= 5 * (CAST(regexp_extract(source, '[0-9]+') AS INT) % 4 + 1)
      |ORDER BY doc_id""".stripMargin

  // ---- d20: corpus-level duplicate-shingle fraction (C4-style n-gram-
  // granularity dedup audit): per document, the per-mille of its
  // distinct word-5-shingles that occur in at least one other document.
  // Catches boilerplate assembly that pair-wise near-dup thresholds
  // miss. Spark aggregates 8-byte shingle hashes; the oracle aggregates
  // the shingle strings — counts agree per document. ----
  private def d20(s: SparkSession, dir: String): DataFrame =
    Curation.dupShingleStats(docs(s, dir), "text", "doc_id", k = 5)
      .select(col("id").as("doc_id"), col("n_shingles"), col("n_dup"),
        col("dup_sh_pm"))
      .orderBy("doc_id")

  private val d20Oracle =
    """WITH w AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(ws) >= 5 THEN
      |      list_transform(generate_series(1, len(ws) - 4),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
      |    ELSE CAST([] AS VARCHAR[]) END) AS shingles
      |  FROM w),
      |idx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |fr AS (SELECT shingle, COUNT(*) AS df FROM idx GROUP BY shingle)
      |SELECT doc_id,
      |  COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  (1000 * CAST(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT))
      |    // COUNT(*) AS dup_sh_pm
      |FROM idx JOIN fr USING (shingle)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- d21: incremental near-dup check — documents with
  // doc_id % 10 == 0 stand in for a new crawl increment, everything
  // else is the existing corpus; each increment document is paired with
  // its exact-Jaccard matches in the corpus (J ≥ 0.6). The corpus is
  // never paired against itself — the crawl-update cost model. ----
  private def d21(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isNew = col("doc_id") % 10 === 0
    Dedup.incrementalPairs(d.filter(!isNew), d.filter(isNew),
        "text", "doc_id", k = 5, threshold = 0.6, maxDf = 100)
      .orderBy("new_id", "corpus_id")
  }

  private[graft] val d21Oracle = incrementalDedupOracle()

  /** d21's incremental-pair oracle chain, parameterized by an extra
    * ARCHIVE predicate so d57 (shingle-index retraction) replays the
    * same probe against a shrunken archive, and by the documents
    * source so d58 (shingle-index UPDATE) replays it against the
    * corpus-with-new-versions. Empty/default = d21/s7. */
  private def incrementalDedupOracle(archExtra: String = "",
      docsSrc: String = "documents"): String =
    s"""WITH w AS (
      |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM $docsSrc),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(ws) >= 5 THEN
      |      list_transform(generate_series(1, len(ws) - 4),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
      |    ELSE CAST([] AS VARCHAR[]) END) AS shingles
      |  FROM w),
      |idx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |c AS (SELECT * FROM idx WHERE doc_id % 10 <> 0$archExtra),
      |n AS (SELECT * FROM idx WHERE doc_id % 10 = 0),
      |dfok AS (SELECT shingle FROM c GROUP BY shingle HAVING COUNT(*) <= 100),
      |p AS (
      |  SELECT n.doc_id AS new_id, c2.doc_id AS corpus_id, COUNT(*) AS inter
      |  FROM n JOIN (SELECT c.* FROM c JOIN dfok USING (shingle)) c2
      |    ON n.shingle = c2.shingle
      |  GROUP BY 1, 2),
      |cs AS (SELECT doc_id, len(shingles) AS n FROM sh)
      |SELECT new_id, corpus_id, inter,
      |  ROUND(inter / (nn.n + nc.n - inter), 6) AS jaccard
      |FROM p
      |JOIN cs nn ON p.new_id = nn.doc_id
      |JOIN cs nc ON p.corpus_id = nc.doc_id
      |WHERE ROUND(inter / (nn.n + nc.n - inter), 6) >= 0.6
      |ORDER BY new_id, corpus_id""".stripMargin

  // ---- d22: token-budget selection — spend a 10,000-token budget on
  // the least-repetitive documents (dup_pm ascending, sha-bucket rank
  // inside a score class). The oracle replays the single-window
  // reference form: cumulative token sum over the full
  // (dup_pm, bucket, doc_id) order, kept while ≤ budget — provably the
  // same set as the engine's two-phase selection. ----
  private def d22(s: SparkSession, dir: String): DataFrame = {
    val stats = Curation.repetitionStats(docs(s, dir), "text", "doc_id")
      .select("doc_id", "n_tokens", "dup_pm")
    Curation.tokenBudget(stats, "dup_pm", "doc_id", "n_tokens",
        budget = 10000L, seed = 42L, bucketFn = Sampling.shaBucket)
      .orderBy("doc_id")
  }

  private val d22Oracle =
    """WITH w AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    len(ws)::BIGINT AS n_tokens,
      |    (CASE WHEN len(ws) > 0
      |       THEN (1000 * (len(ws) - len(list_distinct(ws)))) // len(ws)
      |       ELSE 0 END)::BIGINT AS dup_pm,
      |    ('0x' || substr(sha256('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
      |  FROM w),
      |o AS (
      |  SELECT doc_id, n_tokens, dup_pm,
      |    SUM(n_tokens) OVER (ORDER BY dup_pm, b, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t)
      |SELECT doc_id, n_tokens, dup_pm FROM o
      |WHERE cum <= 10000 ORDER BY doc_id""".stripMargin

  // ---- d23: PII detection + redaction. The fixture corpus carries no
  // PII, so the query plants it deterministically from doc_id (emails
  // on id%7, IPv4 on id%11, phone fragments on id%13 — ids divisible by
  // several moduli get several kinds) with plain string concatenation
  // that both engines compute identically, then runs the scrub. The
  // oracle replays injection, counting, and the ordered three-stage
  // redaction with the same RE2∩Java regexes; md5 of the redacted text
  // certifies the rewrite byte-for-byte without shipping it. ----
  private def d23(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
        .as("text"))
    Curation.piiScrub(planted, "text", "doc_id")
      .select(col("id").as("doc_id"), col("n_email"), col("n_ip"),
        col("n_phone"), md5(col("redacted")).as("red_md5"),
        length(col("redacted")).cast("long").as("n_chars_red"))
      .orderBy("doc_id")
  }

  private val d23Oracle =
    """WITH p AS (
      |  SELECT doc_id, text
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN ' contact user' || doc_id || '@example.com' ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0
      |         THEN ' from 10.0.' || (doc_id % 256) || '.1' ELSE '' END
      |    || CASE WHEN doc_id % 13 = 0
      |         THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
      |         ELSE '' END AS t
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, t,
      |    regexp_replace(t,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
      |      AS t1
      |  FROM p),
      |r2 AS (
      |  SELECT doc_id, t, t1,
      |    regexp_replace(t1,
      |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
      |  FROM r),
      |r3 AS (
      |  SELECT doc_id, t, t1, t2,
      |    regexp_replace(t2, '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS red
      |  FROM r2)
      |SELECT doc_id,
      |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
      |  len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ip,
      |  len(regexp_extract_all(t2, '\b\d{3}-\d{4}\b'))::BIGINT AS n_phone,
      |  md5(red) AS red_md5,
      |  length(red)::BIGINT AS n_chars_red
      |FROM r3 ORDER BY doc_id""".stripMargin

  // ---- d24: corpus-level line dedup. The fixture documents are
  // single-line, so the query derives a multi-line corpus
  // deterministically: consecutive 3-token chunks become "lines"
  // (3 tokens over a 31-word vocabulary ≈ 30k combinations against
  // ~7.5k corpus lines at sf0.01 — a real split: ~19% of distinct lines
  // recur across documents). Lines occurring in ≥2 distinct documents
  // are boilerplate and dropped; the oracle replays chunking, the
  // distinct-document frequency, the anti-join, and the in-order
  // reassembly, certifying the cleaned text via md5. ----
  private def d24(s: SparkSession, dir: String): DataFrame = {
    // TextAnalysis.words (\S+ extraction) rather than split-on-\s+: split
    // with the default limit emits leading/trailing empty tokens on padded
    // text, which would diverge from the oracle's regexp_extract_all AND
    // could hand sequence(1, 0) a descending [1,0] on an all-whitespace
    // document (the wordShingles guard exists for exactly that quirk).
    val ws = TextAnalysis.words(col("text"))
    // when-guarded like wordShingles: sequence(1, 0) yields a DESCENDING
    // [1, 0] in Spark, so a token-less document must short-circuit to "".
    val chunks = when(size(ws) > 0,
      transform(sequence(lit(1), ((size(ws) + lit(2)) / lit(3)).cast("int")),
        i => array_join(slice(ws, (i - 1) * 3 + 1, lit(3)), " ")))
      .otherwise(array().cast("array<string>"))
    val chunked = docs(s, dir).select(col("doc_id"),
      array_join(chunks, "\n").as("text"))
    Curation.lineDedup(chunked, "text", "doc_id", sep = "\n", minDocs = 2)
      .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
        col("n_dropped"), md5(col("cleaned")).as("clean_md5"),
        length(col("cleaned")).cast("long").as("n_chars_clean"))
      .orderBy("doc_id")
  }

  private val d24Oracle =
    """WITH w AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |c AS (
      |  SELECT doc_id, list_transform(generate_series(1, (len(ws)+2)//3),
      |    i -> array_to_string(ws[(i-1)*3+1:least(i*3, len(ws))], ' ')) AS lines
      |  FROM w),
      |l AS (
      |  SELECT doc_id, unnest(lines) AS line,
      |    generate_subscripts(lines, 1) AS pos FROM c),
      |b AS (
      |  SELECT line FROM l GROUP BY line
      |  HAVING COUNT(DISTINCT doc_id) >= 2),
      |k AS (SELECT l.* FROM l ANTI JOIN b USING (line)),
      |r AS (
      |  SELECT doc_id, COUNT(*) AS n_kept,
      |    string_agg(line, chr(10) ORDER BY pos) AS cleaned
      |  FROM k GROUP BY doc_id)
      |SELECT c.doc_id,
      |  len(c.lines)::BIGINT AS n_lines,
      |  COALESCE(r.n_kept, 0)::BIGINT AS n_kept,
      |  (len(c.lines) - COALESCE(r.n_kept, 0))::BIGINT AS n_dropped,
      |  md5(COALESCE(r.cleaned, '')) AS clean_md5,
      |  length(COALESCE(r.cleaned, ''))::BIGINT AS n_chars_clean
      |FROM c LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- d25: BM25 keyword retrieval (Curation.bm25Rank) over the fixed
  // query ["spark", "window", "merge"]. Engine-exactness: k1 = 1.25 and
  // b = 0.75 make every constant in the weighting a dyadic rational
  // (1.25, 2.25, 0.75, 0.25, 0.5 — exact doubles in BOTH engines, no
  // decimal-literal drift), tf/dl/N/df are integers-as-doubles, and the
  // score is an explicit left-associated 3-term sum — so the only
  // non-correctly-rounded primitive is ln (≤1 ulp each side), buried by
  // the 6-dp rounding. ----
  private def d25(s: SparkSession, dir: String): DataFrame =
    Curation.bm25Rank(docs(s, dir), "text", "doc_id",
        Seq("spark", "window", "merge"))
      .select(col("id").as("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))

  private val d25Oracle =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |st AS (SELECT doc_id,
      |  CAST(len(ws) AS DOUBLE) AS dl,
      |  CAST(len(list_filter(ws, x -> x = 'spark')) AS DOUBLE) AS tf0,
      |  CAST(len(list_filter(ws, x -> x = 'window')) AS DOUBLE) AS tf1,
      |  CAST(len(list_filter(ws, x -> x = 'merge')) AS DOUBLE) AS tf2
      |  FROM d),
      |g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
      |  CAST(COUNT(*) FILTER (WHERE tf0 > 0) AS DOUBLE) AS df0,
      |  CAST(COUNT(*) FILTER (WHERE tf1 > 0) AS DOUBLE) AS df1,
      |  CAST(COUNT(*) FILTER (WHERE tf2 > 0) AS DOUBLE) AS df2
      |  FROM st),
      |sc AS (SELECT doc_id, ROUND(
      |    ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.25
      |      / (tf0 + 1.25 * (0.25 + 0.75 * dl / avgdl))
      |  + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.25
      |      / (tf1 + 1.25 * (0.25 + 0.75 * dl / avgdl))
      |  + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.25
      |      / (tf2 + 1.25 * (0.25 + 0.75 * dl / avgdl)), 6) AS score
      |  FROM st CROSS JOIN g)
      |SELECT doc_id, score FROM sc WHERE score > 0
      |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin

  // ---- d26: SymSpell fuzzy vocabulary join — even-doc tokens × odd-doc
  // tokens within Levenshtein distance 2. The oracle pays the cross join
  // (fine at fixture vocab size); the Spark side is the production path:
  // ≤2-deletion-neighborhood candidate keys, exact levenshtein verify on
  // candidates only (CartesianProduct absence plan-asserted in
  // CurationSpec). ----
  private def d26(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    def toks(parity: Int) = d.filter(col("doc_id") % 2 === parity)
      .select(explode(TextAnalysis.words(col("text"))).as("tok"))
    Curation.fuzzyTokenJoin(toks(0), toks(1), "tok")
      .orderBy("tok_a", "tok_b")
  }

  private val d26Oracle =
    """WITH w AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
      |  FROM documents),
      |a AS (SELECT DISTINCT tok FROM w WHERE doc_id % 2 = 0),
      |b AS (SELECT DISTINCT tok FROM w WHERE doc_id % 2 = 1)
      |SELECT a.tok AS tok_a, b.tok AS tok_b,
      |  CAST(levenshtein(a.tok, b.tok) AS INT) AS dist
      |FROM a, b
      |WHERE levenshtein(a.tok, b.tok) <= 2 AND a.tok <> b.tok
      |ORDER BY tok_a, tok_b""".stripMargin

  // ---- d27: model-based quality scoring (Curation.linearQualityScore)
  // — the fastText/DCLM linear-classifier shape as one codegen'd map
  // stage. Weights are sha-derived (the shaBucket convention) so the
  // oracle replays the whole scoring fold; keep derives from the
  // ROUNDED score on both sides. ----
  private def d27(s: SparkSession, dir: String): DataFrame =
    Curation.linearQualityScore(docs(s, dir), "text", "doc_id")
      .select(col("id").as("doc_id"), col("score"), col("keep"))
      .orderBy("doc_id")

  private val d27Oracle =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |s AS (SELECT doc_id,
      |  CAST(len(ws) AS DOUBLE) AS n,
      |  list_sum(list_transform(ws, t ->
      |    CAST((('0x' || substr(sha256('w:' || t), 1, 8))::BIGINT % 2001
      |          - 1000) AS DOUBLE) / 1000.0)) AS raw
      |  FROM d WHERE len(ws) > 0)
      |SELECT doc_id,
      |  ROUND(1.0 / (1.0 + exp(-(raw / n))), 6) AS score,
      |  CASE WHEN ROUND(1.0 / (1.0 + exp(-(raw / n))), 6) >= 0.5
      |       THEN 1 ELSE 0 END AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  // ---- d28: unigram-LM surprisal (Curation.unigramSurprisal) — the
  // CCNet-style perplexity filter against the corpus's own unigram
  // distribution. Per-token lp rounds to 6 dp BEFORE the position-order
  // fold (Spark sorted-struct aggregate ≡ DuckDB list(lp ORDER BY pos)),
  // so both engines sum identical doubles in identical order. ----
  private def d28(s: SparkSession, dir: String): DataFrame =
    Curation.unigramSurprisal(docs(s, dir), "text", "doc_id")
      .select(col("id").as("doc_id"), col("n_tokens"), col("mean_nats"),
        col("keep"))
      .orderBy("doc_id")

  private val d28Oracle =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |u AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(ws)),
      |      i -> struct_pack(pos := i - 1, tok := ws[i]))) AS e
      |  FROM d),
      |t AS (SELECT doc_id, e.pos AS pos, e.tok AS tok FROM u),
      |c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
      |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM c),
      |l AS (
      |  SELECT t.doc_id, t.pos,
      |    ROUND(ln(CAST(c.cnt AS DOUBLE) / tot.total), 6) AS lp
      |  FROM t JOIN c USING (tok) CROSS JOIN tot),
      |s AS (
      |  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS n,
      |    list_sum(list(lp ORDER BY pos)) AS sl
      |  FROM l GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      |  ROUND(-sl / n, 6) AS mean_nats,
      |  CASE WHEN ROUND(-sl / n, 6) <= 3.45 THEN 1 ELSE 0 END AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  // ---- d29: sequence packing (Curation.sequencePack) at a 512-token
  // budget. The Spark side computes the global prefix sum via contiguous
  // sha-prefix buckets + driver-side bucket offsets (never a
  // single-partition window); the oracle IS the single global window —
  // agreement proves the distributed prefix sum equals the sequential
  // semantics. All integers, exact. ----
  private def d29(s: SparkSession, dir: String): DataFrame =
    Curation.sequencePack(docs(s, dir), "text", "doc_id", budget = 512L)
      .select(col("id").as("doc_id"), col("n_tok"), col("bin"),
        col("bin_offset"), col("straddles"))
      .orderBy("doc_id")

  private val d29Oracle =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok,
      |    sha256('pk:' || CAST(doc_id AS VARCHAR)) AS ord
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tok,
      |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY ord, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM d)
      |SELECT doc_id, n_tok,
      |  cum_before // 512 AS bin,
      |  cum_before % 512 AS bin_offset,
      |  CASE WHEN cum_before % 512 + n_tok > 512 THEN 1 ELSE 0 END
      |    AS straddles
      |FROM c ORDER BY doc_id""".stripMargin

  // ---- d31: the composed pre-training prep pipeline — the query a
  // training-data team actually ships: exact dedup (keep min-id copy) →
  // eval-set decontamination (drop docs sharing any 5-shingle with the
  // doc_id%50 eval slice) → repetition-quality filter (d17's keep flag)
  // → sequence packing of the survivors at a 512-token budget. Every
  // stage is an already-gate-certified operator; this row certifies the
  // COMPOSITION (semi/anti-join plumbing between stages included)
  // end to end against one SQL replay. ----
  private def d31(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isEval = col("doc_id") % 50 === 0
    val corpus = d.filter(!isEval)
    val keepIds = Dedup.exact(corpus, "text", "doc_id")
      .select(col("keep_id").as("doc_id"))
    val deduped = corpus.join(keepIds, Seq("doc_id"), "left_semi")
    val contaminated = Curation.contamination(
        deduped, d.filter(isEval), "text", "doc_id", k = 5)
      .select(col("id").as("doc_id"))
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    val kept = Curation.repetitionStats(clean, "text", "doc_id")
      .filter(col("keep") === 1).select("doc_id")
    val survivors = clean.join(kept, Seq("doc_id"), "left_semi")
    Curation.sequencePack(survivors, "text", "doc_id", budget = 512L)
      .select(col("id").as("doc_id"), col("n_tok"), col("bin"),
        col("bin_offset"), col("straddles"))
      .orderBy("doc_id")
  }

  private val d31Oracle =
    """WITH d0 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
      |dd AS (
      |  SELECT doc_id, text FROM d0 WHERE doc_id IN (
      |    SELECT MIN(doc_id) FROM d0 GROUP BY sha256(text))),
      |w AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(ws) >= 5 THEN
      |      list_transform(generate_series(1, len(ws) - 4),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
      |    ELSE CAST([] AS VARCHAR[]) END) AS shingles
      |  FROM w),
      |idx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |ev AS (SELECT DISTINCT shingle FROM idx WHERE doc_id % 50 = 0),
      |contam AS (
      |  SELECT DISTINCT doc_id FROM idx JOIN ev USING (shingle)
      |  WHERE doc_id % 50 <> 0),
      |clean AS (
      |  SELECT dd.doc_id, dd.text FROM dd
      |  WHERE dd.doc_id NOT IN (SELECT doc_id FROM contam)),
      |q AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM clean),
      |keepq AS (
      |  SELECT doc_id, ws FROM q WHERE len(ws) > 0
      |    AND (1000 * (len(ws) - len(list_distinct(ws)))) // len(ws) <= 600
      |    AND (1000 * list_max(list_transform(list_distinct(ws),
      |          t -> len(list_filter(ws, x -> x = t))))) // len(ws) <= 150),
      |p AS (
      |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok,
      |    sha256('pk:' || CAST(doc_id AS VARCHAR)) AS ord
      |  FROM keepq),
      |c AS (
      |  SELECT doc_id, n_tok,
      |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY ord, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM p)
      |SELECT doc_id, n_tok,
      |  cum_before // 512 AS bin,
      |  cum_before % 512 AS bin_offset,
      |  CASE WHEN cum_before % 512 + n_tok > 512 THEN 1 ELSE 0 END
      |    AS straddles
      |FROM c ORDER BY doc_id""".stripMargin

  // ---- d32: exact duplicated-span removal (ExactSubstr at word
  // granularity): tokens inside any 5-token window occurring ≥ 2 times
  // corpus-wide are dropped, survivors reassembled in order. Spark keys
  // the window frequency on 8-byte xxhash64 window hashes; the oracle
  // joins the window STRINGS — counts agree per window (the d16/d20
  // precedent), and the cleaned text is certified via md5. ----
  private def d32(s: SparkSession, dir: String): DataFrame =
    Curation.substrDedup(docs(s, dir), "text", "doc_id", k = 5,
        minCount = 2)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("cleaned")).as("clean_md5"),
        length(col("cleaned")).cast("long").as("n_chars_clean"))
      .orderBy("doc_id")

  private val d32Oracle =
    """WITH w AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |st AS (
      |  SELECT doc_id, ws, unnest(
      |    CASE WHEN len(ws) >= 5 THEN generate_series(1, len(ws) - 4)
      |         ELSE CAST([] AS BIGINT[]) END) AS sp
      |  FROM w),
      |sh AS (
      |  SELECT doc_id, sp,
      |    ws[sp] || ' ' || ws[sp+1] || ' ' || ws[sp+2] || ' ' ||
      |      ws[sp+3] || ' ' || ws[sp+4] AS s
      |  FROM st),
      |dup AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) >= 2),
      |cov AS (
      |  SELECT DISTINCT doc_id, sp + d AS p
      |  FROM (SELECT doc_id, sp FROM sh SEMI JOIN dup USING (s))
      |  CROSS JOIN (VALUES (0), (1), (2), (3), (4)) AS o(d)),
      |t AS (
      |  SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS p
      |  FROM w),
      |kp AS (SELECT t.* FROM t ANTI JOIN cov USING (doc_id, p)),
      |r AS (
      |  SELECT doc_id, COUNT(*) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY p) AS cleaned
      |  FROM kp GROUP BY doc_id)
      |SELECT w.doc_id, len(w.ws)::BIGINT AS n_tokens,
      |  (len(w.ws) - COALESCE(r.n_kept, 0))::BIGINT AS n_removed,
      |  md5(COALESCE(r.cleaned, '')) AS clean_md5,
      |  length(COALESCE(r.cleaned, ''))::BIGINT AS n_chars_clean
      |FROM w LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- d33: interpolated bigram-LM surprisal (the step from d28's
  // unigram toward CCNet's 5-gram filter). Dyadic 3/4–1/4 interpolation;
  // ONE float-rounding layer: per-token ln becomes integer micro-nats,
  // then exact BIGINT sum + `div` mean — the d28-style re-round of the
  // derived mean hit a half-ulp boundary at sf0.1 (see the operator's
  // scaladoc). Division runs integer/integer → DOUBLE before the dyadic
  // scale on both engines so no DECIMAL arithmetic sneaks in. ----
  private def d33(s: SparkSession, dir: String): DataFrame =
    Curation.bigramSurprisal(docs(s, dir), "text", "doc_id",
        maxMeanMicroNats = 3400000L)
      .select(col("id").as("doc_id"), col("n_tokens"), col("mean_unats"),
        col("keep"))
      .orderBy("doc_id")

  private val d33Oracle =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |t AS (
      |  SELECT doc_id, unnest(ws) AS tok, generate_subscripts(ws, 1) AS pos
      |  FROM d),
      |uni AS (SELECT tok, COUNT(*) AS uc FROM t GROUP BY tok),
      |tot AS (SELECT CAST(SUM(uc) AS DOUBLE) AS total FROM uni),
      |b AS (
      |  SELECT doc_id, i, ws[i] AS w1, ws[i+1] AS w2
      |  FROM (SELECT doc_id, ws,
      |          unnest(generate_series(1, len(ws) - 1)) AS i
      |        FROM d WHERE len(ws) >= 2)),
      |bc AS (SELECT w1, w2, COUNT(*) AS bc FROM b GROUP BY w1, w2),
      |sc AS (SELECT w1, SUM(bc) AS sc FROM bc GROUP BY w1),
      |lp1 AS (
      |  SELECT t.doc_id,
      |    CAST(ROUND(ln(CAST(uni.uc AS DOUBLE) / tot.total) * 1e6)
      |      AS BIGINT) AS lp_u
      |  FROM t JOIN uni USING (tok) CROSS JOIN tot WHERE t.pos = 1),
      |lp2 AS (
      |  SELECT b.doc_id,
      |    CAST(ROUND(ln(
      |      CAST(bc.bc AS DOUBLE) / CAST(sc.sc AS DOUBLE) * 0.75 +
      |      CAST(uni.uc AS DOUBLE) / tot.total * 0.25) * 1e6)
      |      AS BIGINT) AS lp_u
      |  FROM b JOIN bc USING (w1, w2) JOIN sc USING (w1)
      |    JOIN uni ON uni.tok = b.w2 CROSS JOIN tot),
      |l AS (SELECT * FROM lp1 UNION ALL SELECT * FROM lp2),
      |s AS (
      |  SELECT doc_id, COUNT(*) AS n,
      |    CAST(-SUM(lp_u) AS BIGINT) AS su
      |  FROM l GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS n_tokens,
      |  CAST(s.su // s.n AS BIGINT) AS mean_unats,
      |  CASE WHEN s.su // s.n <= 3400000 THEN 1 ELSE 0 END AS keep
      |FROM d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- d37: Unicode NFC canonicalization (graft.functions.NfcNormalize,
  // the custom codegen Expression — Spark has no normalization builtin
  // and a UDF would break whole-stage codegen on a curation pipeline's
  // hottest map stage). The fixture corpus is pure ASCII, where NFC is
  // the identity, so the query PLANTS decomposed sequences
  // deterministically first: doc_id%3==0 docs get every 'e' replaced by
  // e+U+0301 (combining acute), doc_id%3==1 every 'a' by a+U+0308
  // (combining diaeresis), doc_id%3==2 stays raw ASCII as the identity
  // control. NFC must re-compose those to single codepoints (é, ä), so
  // n_composed = len(decomposed) − len(nfc) counts exactly the planted
  // marks and the md5 fingerprints certify byte-identical composition
  // between the JDK normalizer and DuckDB's nfc_normalize (both UAX#15).
  // ----
  private def d37(s: SparkSession, dir: String): DataFrame = {
    val deco = when(col("doc_id") % 3 === 0,
        regexp_replace(col("text"), "e", "e\u0301"))
      .when(col("doc_id") % 3 === 1,
        regexp_replace(col("text"), "a", "a\u0308"))
      .otherwise(col("text"))
    docs(s, dir)
      .withColumn("deco", deco)
      .withColumn("nfc", graft.functions.NfcNormalize.nfc_normalize(col("deco")))
      .select(col("doc_id"),
        length(col("deco")).as("len_deco"),
        length(col("nfc")).as("len_nfc"),
        (length(col("deco")) - length(col("nfc"))).as("n_composed"),
        md5(col("nfc")).as("fp"))
      .orderBy("doc_id")
  }

  private val d37Oracle =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN replace(text, 'e', 'e' || chr(769))
      |         WHEN doc_id % 3 = 1 THEN replace(text, 'a', 'a' || chr(776))
      |         ELSE text END AS deco
      |  FROM documents),
      |n AS (SELECT doc_id, deco, nfc_normalize(deco) AS nfc FROM d)
      |SELECT doc_id,
      |  CAST(length(deco) AS INT) AS len_deco,
      |  CAST(length(nfc) AS INT) AS len_nfc,
      |  CAST(length(deco) - length(nfc) AS INT) AS n_composed,
      |  md5(nfc) AS fp
      |FROM n ORDER BY doc_id""".stripMargin

  // ---- d38: URL/domain filtering (Curation.urlFilter). The fixture has
  // no URL column, so the query PLANTS one deterministically (the d37
  // pattern): url = https://www.<source>.example.com/docs/<doc_id>?lang=
  // <lang>. Spark resolves hosts with the parse_url BUILTIN; the oracle
  // re-derives them with a regexp — the gate therefore certifies that
  // parse_url's HOST semantics agree with the explicit extraction, not
  // just that one engine copied the other. The blocklist is the derived
  // hosts whose source index is divisible by 5, joined as a broadcast
  // left join (the production shape for a few-MB domain blocklist). ----
  private def d38(s: SparkSession, dir: String): DataFrame = {
    val withUrl = docs(s, dir).withColumn("url",
      concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
        col("doc_id"), lit("?lang="), col("lang")))
    val blocklist = withUrl
      .select(lower(concat(lit("www."), col("source"), lit(".example.com")))
        .as("host"))
      .distinct()
      .filter(regexp_extract(col("host"), "src(\\d+)", 1).cast("int") % 5 === 0)
    Curation.urlFilter(withUrl, "url", "doc_id", blocklist)
      .select(col("id").as("doc_id"), col("host"), col("domain_docs"),
        col("blocked"))
      .orderBy("doc_id")
  }

  private val d38Oracle =
    """WITH u AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(
      |      'https://www.' || source || '.example.com/docs/' ||
      |        CAST(doc_id AS VARCHAR) || '?lang=' || lang,
      |      'https?://([^/?#]+)', 1)) AS host
      |  FROM documents),
      |b AS (
      |  SELECT DISTINCT host FROM u
      |  WHERE CAST(regexp_extract(host, 'src([0-9]+)', 1) AS INT) % 5 = 0)
      |SELECT u.doc_id, u.host,
      |  COUNT(*) OVER (PARTITION BY u.host) AS domain_docs,
      |  CASE WHEN b.host IS NOT NULL THEN 1 ELSE 0 END AS blocked
      |FROM u LEFT JOIN b USING (host)
      |ORDER BY doc_id""".stripMargin

  // ---- d39: C4 line-rule cleaning (Curation.c4LineFilter). Lines are
  // the d24 3-token chunks; because the fixture vocabulary carries no
  // punctuation, terminal periods are PLANTED deterministically on
  // chunks where (doc_id + pos) % 3 == 0 — so the terminal-punctuation
  // rule, the >= 3-words rule (the ragged final chunk fails it), and
  // the blacklist rule (the vocab word "slow" stands in for
  // "javascript") all genuinely split the fixture. Doc-level C4 rule:
  // keep documents with >= 3 surviving lines. The oracle replays
  // chunking, planting, all three line rules, reassembly, and the
  // doc-keep flag; md5 certifies the cleaned text. ----
  private def d39(s: SparkSession, dir: String): DataFrame = {
    val ws = TextAnalysis.words(col("text"))
    val chunks = when(size(ws) > 0,
      transform(sequence(lit(1), ((size(ws) + lit(2)) / lit(3)).cast("int")),
        i => concat(
          array_join(slice(ws, (i - 1) * 3 + 1, lit(3)), " "),
          when((col("doc_id") + i) % 3 === 0, ".").otherwise(""))))
      .otherwise(array().cast("array<string>"))
    val lined = docs(s, dir).select(col("doc_id"),
      array_join(chunks, "\n").as("text"))
    Curation.c4LineFilter(lined, "text", "doc_id", sep = "\n",
        minWords = 3, minLines = 3, blacklist = Seq("slow"))
      .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
        col("n_dropped"), col("doc_keep"),
        md5(col("cleaned")).as("clean_md5"))
      .orderBy("doc_id")
  }

  private val d39Oracle =
    """WITH w AS (
      |  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
      |c AS (
      |  SELECT doc_id, list_transform(generate_series(1, (len(ws)+2)//3),
      |    i -> array_to_string(ws[(i-1)*3+1:least(i*3, len(ws))], ' ') ||
      |      CASE WHEN (doc_id + i) % 3 = 0 THEN '.' ELSE '' END) AS lines
      |  FROM w),
      |l AS (
      |  SELECT doc_id, unnest(lines) AS line,
      |    generate_subscripts(lines, 1) AS pos FROM c),
      |k AS (
      |  SELECT * FROM l
      |  WHERE line LIKE '%.'
      |    AND len(regexp_extract_all(line, '\S+')) >= 3
      |    AND NOT contains(line, 'slow')),
      |r AS (
      |  SELECT doc_id, COUNT(*) AS n_kept,
      |    string_agg(line, chr(10) ORDER BY pos) AS cleaned
      |  FROM k GROUP BY doc_id)
      |SELECT c.doc_id,
      |  len(c.lines)::BIGINT AS n_lines,
      |  COALESCE(r.n_kept, 0)::BIGINT AS n_kept,
      |  (len(c.lines) - COALESCE(r.n_kept, 0))::BIGINT AS n_dropped,
      |  CASE WHEN COALESCE(r.n_kept, 0) >= 3 THEN 1 ELSE 0 END AS doc_keep,
      |  md5(COALESCE(r.cleaned, '')) AS clean_md5
      |FROM c LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- d40: corpus report card — the per-source data-governance
  // summary every pipeline team ships with a release: document and
  // token volume, length percentiles (exact, the q17 contract:
  // Spark `percentile` ≡ DuckDB `quantile_cont`), and language
  // diversity, with ROLLUP grand totals. One
  // pass over (source, lang, n_chars, text-derived counts) — a single
  // narrow scan + one ROLLUP shuffle; no per-document state survives
  // the aggregation, so the report costs the same shape at 100 TB. ----
  private def d40(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("source"), col("lang"),
      col("n_chars"),
      size(TextAnalysis.words(col("text"))).cast("long").as("n_tokens"))
    base.rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        expr("percentile(n_chars, 0.5)").as("p50_chars"),
        expr("percentile(n_chars, 0.95)").as("p95_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .select(coalesce(col("source"), lit("TOTAL")).as("source"),
        col("n_docs"), col("n_tokens"), col("p50_chars"), col("p95_chars"),
        col("n_langs"))
      .orderBy("source")
  }

  private val d40Oracle =
    """WITH b AS (
      |  SELECT source, lang, n_chars,
      |    len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tokens
      |  FROM documents)
      |SELECT COALESCE(source, 'TOTAL') AS source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  quantile_cont(n_chars, 0.5) AS p50_chars,
      |  quantile_cont(n_chars, 0.95) AS p95_chars,
      |  COUNT(DISTINCT lang) AS n_langs
      |FROM b GROUP BY ROLLUP (source)
      |ORDER BY COALESCE(source, 'TOTAL')""".stripMargin

  // ---- d42: DSIR importance-weighted data selection (Xie et al. 2023).
  // Target slice = the English documents (the "curated in-domain
  // exemplar"); every document scores under the hashed-bigram log-ratio
  // weights and the top 120 are selected. The oracle replays the bucket
  // hash (same 8-hex-char sha256 prefix as d35), the add-one-smoothed
  // per-bucket micro-nat weights, the exact BIGINT per-document sums,
  // and the (score desc, id) top-N cutoff. DuckDB SUM(BIGINT) widens to
  // HUGEINT, so the oracle casts the sum back (the d33 precedent). ----
  private def d42(s: SparkSession, dir: String): DataFrame =
    Curation.dsirSelect(docs(s, dir), "text", "doc_id",
        col("lang") === "en", buckets = 512, topN = 120)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_bigrams"),
        col("dsir_unats"), col("selected"))
      .orderBy("doc_id")

  private val d42Oracle =
    """WITH d AS (
      |  SELECT doc_id, (lang = 'en') AS is_target,
      |    regexp_extract_all(text, '\S+') AS ws
      |  FROM documents),
      |b AS (
      |  SELECT doc_id, is_target,
      |    ('0x' || substr(sha256('dsir:' || ws[i] || ' ' || ws[i+1]), 1, 8))::BIGINT
      |      % 512 AS bucket
      |  FROM (SELECT doc_id, is_target, ws,
      |          unnest(generate_series(1, len(ws) - 1)) AS i
      |        FROM d WHERE len(ws) >= 2)),
      |c AS (
      |  SELECT bucket, COUNT(*) AS cr,
      |    SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
      |  FROM b GROUP BY bucket),
      |t AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM c),
      |w AS (
      |  SELECT bucket,
      |    CAST(ROUND(ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 512 AS DOUBLE)) * 1e6)
      |      AS BIGINT)
      |  - CAST(ROUND(ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 512 AS DOUBLE)) * 1e6)
      |      AS BIGINT) AS lw
      |  FROM c CROSS JOIN t),
      |s AS (
      |  SELECT doc_id, CAST(SUM(lw) AS BIGINT) AS dsir_unats,
      |    COUNT(*) AS n_bigrams
      |  FROM b JOIN w USING (bucket) GROUP BY doc_id),
      |top AS (SELECT doc_id FROM s ORDER BY dsir_unats DESC, doc_id LIMIT 120)
      |SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS n_tokens,
      |  CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  s.dsir_unats,
      |  CASE WHEN top.doc_id IS NOT NULL THEN 1 ELSE 0 END AS selected
      |FROM d LEFT JOIN s USING (doc_id) LEFT JOIN top USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---- d44: token–label PMI mining — which tokens separate the English
  // slice from the rest (the feature audit behind d27's classifier).
  // Document-frequency PMI, add-one smoothed, every ln term individually
  // rounded to micro-nats (the d33 cookbook) so the score is an exact
  // BIGINT; corpus totals ride as driver/SQL-CTE constants computed the
  // same way on both engines. ----
  private def d44(s: SparkSession, dir: String): DataFrame =
    Curation.tokenLabelPmi(docs(s, dir), "text", "doc_id",
        col("lang") === "en", minDf = 3, topN = 50)
      .orderBy(col("pmi_unats").desc, col("token"))

  private val d44Oracle =
    """WITH d AS (
      |  SELECT doc_id, (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS y,
      |    regexp_extract_all(text, '\S+') AS ws
      |  FROM documents),
      |tot AS (SELECT SUM(y)::BIGINT AS n1, COUNT(*)::BIGINT AS n FROM d),
      |tok AS (
      |  SELECT doc_id, y, unnest(list_distinct(ws)) AS token FROM d),
      |cnt AS (
      |  SELECT token, SUM(y)::BIGINT AS df_t, COUNT(*)::BIGINT AS df
      |  FROM tok GROUP BY token HAVING COUNT(*) >= 3)
      |SELECT token, df_t, (df - df_t) AS df_nt,
      |  (CAST(ROUND(LN(df_t + 1) * 1000000) AS BIGINT)
      |   - CAST(ROUND(LN(df + 2) * 1000000) AS BIGINT)
      |   + CAST(ROUND(LN(n + 2) * 1000000) AS BIGINT)
      |   - CAST(ROUND(LN(n1 + 1) * 1000000) AS BIGINT)) AS pmi_unats
      |FROM cnt, tot
      |ORDER BY pmi_unats DESC, token LIMIT 50""".stripMargin

  // ---- d45: Zipf-law fit of the token frequency curve — corpus health
  // diagnostic (natural text fits slope ≈ −1 in log-log; boilerplate
  // floods flatten it). Least squares on integer micro-nat coordinates
  // (the d33 cookbook): the normal-equation sums are exact BIGINTs, the
  // one double division is 6-decimal rounded on both engines. ----
  private def d45(s: SparkSession, dir: String): DataFrame =
    Curation.zipfFit(docs(s, dir), "text", topN = 200)

  private val d45Oracle =
    """WITH w AS (
      |  SELECT unnest(regexp_extract_all(text, '\S+')) AS tok
      |  FROM documents),
      |c AS (SELECT tok, COUNT(*)::BIGINT AS cnt FROM w GROUP BY tok),
      |t AS (SELECT cnt,
      |    ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk FROM c),
      |l AS (SELECT CAST(ROUND(LN(rnk) * 1000000) AS BIGINT) AS x,
      |    CAST(ROUND(LN(cnt) * 1000000) AS BIGINT) AS y
      |  FROM t WHERE rnk <= 200),
      |a AS (SELECT COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
      |    SUM(y)::BIGINT AS sy, SUM(x*y)::BIGINT AS sxy,
      |    SUM(x*x)::BIGINT AS sxx FROM l)
      |SELECT n AS n_fit, (n*sxy - sx*sy) AS slope_num,
      |  (n*sxx - sx*sx) AS slope_den,
      |  ROUND(CAST(n*sxy - sx*sy AS DOUBLE) / (n*sxx - sx*sx), 6) AS slope
      |FROM a""".stripMargin

  // ---- d46: cross-source contamination matrix — distinct-5-shingle
  // Jaccard for every unordered source pair, zero-overlap pairs kept.
  // d16 guards train-vs-eval; this guards train-vs-train (mirrored
  // crawls inflate effective epochs exactly like document dups). ----
  private def d46(s: SparkSession, dir: String): DataFrame =
    Curation.sourceOverlap(docs(s, dir), "text", "source", k = 5)
      .orderBy("src_a", "src_b")

  private val d46Oracle =
    """WITH w AS (
      |  SELECT source, regexp_extract_all(text, '\S+') AS ws
      |  FROM documents),
      |sh0 AS (
      |  SELECT source, unnest(
      |    CASE WHEN len(ws) >= 5 THEN
      |      list_transform(generate_series(1, len(ws) - 4),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
      |             ws[i+3] || ' ' || ws[i+4])
      |    ELSE CAST([] AS VARCHAR[]) END) AS shingle
      |  FROM w),
      |sh AS (SELECT DISTINCT source,
      |    ('0x' || substr(sha256(shingle), 1, 8))::BIGINT AS h
      |  FROM sh0),
      |sz AS (SELECT source, COUNT(*)::BIGINT AS n FROM sh GROUP BY source),
      |cm AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    COUNT(*)::BIGINT AS n_common
      |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT sa.source AS src_a, sb.source AS src_b,
      |  COALESCE(cm.n_common, 0)::BIGINT AS n_common,
      |  sa.n AS n_a, sb.n AS n_b,
      |  (1000000 * COALESCE(cm.n_common, 0))
      |    // (sa.n + sb.n - COALESCE(cm.n_common, 0)) AS jaccard_ppm
      |FROM sz sa JOIN sz sb ON sa.source < sb.source
      |LEFT JOIN cm ON cm.src_a = sa.source AND cm.src_b = sb.source
      |ORDER BY src_a, src_b""".stripMargin

  // ---- d47: BPE merge learning — the first 3 tokenizer-training merges,
  // each iteration's argmax + corpus rewrite fully in-plan. The
  // two-space symbol encoding makes the merge a literal global
  // regexp_replace with identical left-to-right semantics on both
  // engines (TextAnalysis.learnBpeMerges scaladoc); the oracle unrolls
  // the same three count→argmax→rewrite rounds as CTEs. ----
  private def d47(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.learnBpeMerges(docs(s, dir), "text", steps = 3)
      .orderBy("step")

  /** Shared BPE-learning replay (vocabulary → three count→argmax→rewrite
    * rounds, ending in p1/p2/p3 = the learned merges) — used by the d47
    * and d53 oracles. */
  private val bpeCtes =
    """t AS (
      |  SELECT lower(unnest(regexp_extract_all(text, '\S+'))) AS w
      |  FROM documents),
      |w0 AS (
      |  SELECT ' ' || trim(regexp_replace(w, '(.)', '\1  ', 'g')) || ' '
      |      AS s,
      |    COUNT(*)::BIGINT AS cnt
      |  FROM t WHERE regexp_full_match(w, '[a-z]+') GROUP BY 1),
      |p1 AS (
      |  SELECT p, SUM(cnt)::BIGINT AS c FROM (
      |    SELECT cnt, unnest(list_transform(
      |      generate_series(1, len(sy) - 1),
      |      i -> sy[i] || ' ' || sy[i+1])) AS p
      |    FROM (SELECT cnt, string_split(trim(s), '  ') AS sy FROM w0))
      |  GROUP BY p ORDER BY c DESC, p LIMIT 1),
      |w1 AS (
      |  SELECT regexp_replace(s,
      |      ' ' || replace(p, ' ', '  ') || ' ',
      |      ' ' || replace(p, ' ', '') || ' ', 'g') AS s, cnt
      |  FROM w0, p1),
      |p2 AS (
      |  SELECT p, SUM(cnt)::BIGINT AS c FROM (
      |    SELECT cnt, unnest(list_transform(
      |      generate_series(1, len(sy) - 1),
      |      i -> sy[i] || ' ' || sy[i+1])) AS p
      |    FROM (SELECT cnt, string_split(trim(s), '  ') AS sy FROM w1))
      |  GROUP BY p ORDER BY c DESC, p LIMIT 1),
      |w2 AS (
      |  SELECT regexp_replace(s,
      |      ' ' || replace(p, ' ', '  ') || ' ',
      |      ' ' || replace(p, ' ', '') || ' ', 'g') AS s, cnt
      |  FROM w1, p2),
      |p3 AS (
      |  SELECT p, SUM(cnt)::BIGINT AS c FROM (
      |    SELECT cnt, unnest(list_transform(
      |      generate_series(1, len(sy) - 1),
      |      i -> sy[i] || ' ' || sy[i+1])) AS p
      |    FROM (SELECT cnt, string_split(trim(s), '  ') AS sy FROM w2))
      |  GROUP BY p ORDER BY c DESC, p LIMIT 1)""".stripMargin

  private val d47Oracle =
    s"""WITH $bpeCtes
      |SELECT 1 AS step, p AS pair, c AS cnt FROM p1
      |UNION ALL SELECT 2, p, c FROM p2
      |UNION ALL SELECT 3, p, c FROM p3
      |ORDER BY step""".stripMargin

  // ---- d54: INCREMENTAL winnow matching — the persisted-index face of
  // d51 (the d21 contract for the fingerprint family): the archive
  // (doc_id % 10 != 0) is winnowed and df-capped once into a
  // (id, fp) index; the increment matches against it without the
  // archive ever being re-winnowed or re-paired. The oracle replays the
  // full winnow selection, the split, the ARCHIVE-only df-cap (≤ 100,
  // no min-2 — cross-side pairing matches single occupants, unlike
  // d51's within-corpus BETWEEN 2 AND cap), and the shared-count
  // score. Batch face of s18. ----
  private def d54(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isNew = col("doc_id") % 10 === 0
    val idx = TextAnalysis.winnowIndex(d.filter(!isNew), "text", "doc_id",
      k = 5, w = 4, maxDf = 100)
    TextAnalysis.winnowProbeMatches(d.filter(isNew), idx, "text", "doc_id",
        k = 5, w = 4, minShared = 2)
      .orderBy("new_id", "corpus_id")
  }

  private[graft] val d54Oracle =
    s"""WITH $winnowCtes,
      |fps AS (SELECT DISTINCT doc_id, fp FROM sel),
      |arch AS (SELECT * FROM fps WHERE doc_id % 10 <> 0),
      |probe AS (SELECT * FROM fps WHERE doc_id % 10 = 0),
      |ok AS (SELECT fp FROM arch GROUP BY fp HAVING COUNT(*) <= 100),
      |ai AS (SELECT arch.* FROM arch JOIN ok USING (fp))
      |SELECT probe.doc_id AS new_id, ai.doc_id AS corpus_id,
      |  COUNT(*)::BIGINT AS shared
      |FROM probe JOIN ai USING (fp)
      |GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |ORDER BY new_id, corpus_id""".stripMargin

  // ---- d57: SHINGLE-index retraction (Dedup.shingleIndexRetract) —
  // the d21 original's delete face, completing the lifecycle across
  // every persisted index family: the archive's UNCAPPED shingle
  // sketch is persisted once, a takedown batch (doc_id % 7 = 1)
  // retracts by one anti-join + df/size recounts (text never
  // re-tokenized), and the d21 increment probes the retracted index
  // through incrementalPairsFromIndex. Oracle = d21's chain with the
  // archive shrunk to the survivors (rebuild-without-them). ----
  private def d57(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isNew = col("doc_id") % 10 === 0
    val sketch = Dedup.hashedShingleSketch(d.filter(!isNew), "text",
      "doc_id", k = 5)
    val removed = d.filter(!isNew && col("doc_id") % 7 === 1)
      .select("doc_id")
    Dedup.incrementalPairsFromIndex(
        Dedup.shingleIndexRetract(sketch, removed, k = 5, maxDf = 100),
        d.filter(isNew), "text", "doc_id", k = 5, threshold = 0.6)
      .orderBy("new_id", "corpus_id")
  }

  // shared with the s24 streaming gate: sequential per-batch retraction
  // over the maintained sketch chain composes to the one-shot retract,
  // so the same survivor-archive probe oracle adjudicates both
  private[graft] val d57Oracle = incrementalDedupOracle(
    archExtra = " AND doc_id % 7 <> 1")

  // ---- d58: SHINGLE-index UPDATE (Dedup.shingleSketchUpdate) — the
  // re-crawl edit path over the persisted artifact (VERDICT r15
  // missing item 1): every archive doc with doc_id % 7 = 1 is
  // re-crawled as a CHANGED version (its text doubled — the distinct
  // shingle set gains the seam shingles, so postings, sizes n_c, and
  // jaccard denominators all move), the update face retracts the old
  // versions' postings and appends the new versions' against the same
  // uncapped sketch, and the d21 increment probes the re-derived
  // serving index. Oracle = d21's chain over the
  // corpus-with-new-versions (rebuild-with-them) — green certifies
  // update ≡ rebuild end-to-end through the serve path, the
  // composition whose ordering bug (append-before-retract drops the
  // doc entirely) is spec-pinned in CurationSpec. ----
  private def d58(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isNew = col("doc_id") % 10 === 0
    val arch = d.filter(!isNew)
    val sketch = Dedup.hashedShingleSketch(arch, "text", "doc_id", k = 5)
    val newVersions = arch.filter(col("doc_id") % 7 === 1)
      .withColumn("text", concat(col("text"), lit(" "), col("text")))
    val updated = Dedup.shingleSketchUpdate(sketch, newVersions,
      "text", "doc_id", k = 5)
    Dedup.incrementalPairsFromIndex(
        Dedup.shingleServingIndex(updated, k = 5, maxDf = 100),
        d.filter(isNew), "text", "doc_id", k = 5, threshold = 0.6)
      .orderBy("new_id", "corpus_id")
  }

  // shared with the s31 streaming gate: sequential per-batch updates
  // over the maintained sketch chain compose to the one-shot update,
  // so the same rebuild-with-the-new-versions oracle adjudicates both
  private[graft] val d58Oracle = incrementalDedupOracle(docsSrc =
    """(SELECT doc_id,
      |   CASE WHEN doc_id % 10 <> 0 AND doc_id % 7 = 1
      |        THEN text || ' ' || text ELSE text END AS text
      | FROM documents)""".stripMargin)

  // ---- d59: WINNOW-index UPDATE (TextAnalysis.winnowSketchUpdate) —
  // the re-crawl edit path for the fingerprint family, d58's twin:
  // every archive doc with doc_id % 7 = 1 is re-crawled as a CHANGED
  // version (text doubled — the winnow window walk shifts, so the
  // selected fingerprints move, not just grow), the update face
  // retracts the old versions' fingerprints and appends the new
  // versions' against the same uncapped sketch, and the d54 increment
  // probes the re-derived serving index. Oracle = d54's chain over
  // the corpus-with-new-versions (rebuild-with-them); the
  // retract-then-append ordering is spec-pinned in UpdateFacesSpec. ----
  private def d59(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isNew = col("doc_id") % 10 === 0
    val arch = d.filter(!isNew)
    val sketch = TextAnalysis.winnowSketch(arch, "text", "doc_id",
      k = 5, w = 4)
    val newVersions = arch.filter(col("doc_id") % 7 === 1)
      .withColumn("text", concat(col("text"), lit(" "), col("text")))
    val updated = TextAnalysis.winnowSketchUpdate(sketch, newVersions,
      "text", "doc_id", k = 5, w = 4)
    TextAnalysis.winnowProbeMatches(d.filter(isNew),
        TextAnalysis.winnowServingIndex(updated, maxDf = 100),
        "text", "doc_id", k = 5, w = 4, minShared = 2)
      .orderBy("new_id", "corpus_id")
  }

  // ---- d61: delta-chain COMPACTION under TAKEDOWNS — the LSM fold
  // that keeps the O(delta) chain viable forever: after enough
  // batches the accumulated history is itself a probe cost, so
  // compaction folds it into a fresh base (survivor sketch +
  // re-derived stats/index/sizes — the ONE amortized recount the
  // per-batch algebra saves) and the chain restarts against the new
  // base. Each takedown batch is an update to an EMPTY version on the
  // one delta chain (DeltaUpdate.step with DeltaUpdate.emptyVersion),
  // folded by Dedup.shingleUpdateCompact and served by
  // Dedup.shingleUpdateServing. The gate certifies the full cycle:
  // half the takedowns as a delta step on the original base, compact,
  // the other half as a delta step on the COMPACTED base; the final
  // serving view answers the d21 increment probe and d57's one-shot
  // survivor-archive oracle adjudicates — deltas → compact → deltas ≡
  // the one-shot retract of everything. ----
  private def d61(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isNew = col("doc_id") % 10 === 0
    val takedown = d.filter(!isNew && col("doc_id") % 7 === 1)
      .select("doc_id")
    val out = graft.TmpHygiene.deleteAtExit(
      graft.TmpHygiene.scratchDir("graft_d61"))
    Dedup.shingleDeltaBase(s, d.filter(!isNew), "text", "doc_id",
      s"$out/a/init", k = 5, maxDf = 100)
    DeltaUpdate.step(s, s"$out/a", "init", 0L,
      takedown.filter(col("doc_id") % 2 === 1),
      DeltaUpdate.emptyVersion(s, s"$out/a/init"), Seq("shingle_k5"))
    Dedup.shingleUpdateCompact(s, s"$out/a", "init", 0L, s"$out/b/init",
      k = 5, maxDf = 100)
    DeltaUpdate.step(s, s"$out/b", "init", 0L,
      takedown.filter(col("doc_id") % 2 === 0),
      DeltaUpdate.emptyVersion(s, s"$out/b/init"), Seq("shingle_k5"))
    val idx = Dedup.shingleUpdateServing(s, s"$out/b", "init", 0L,
      k = 5, maxDf = 100)
    Dedup.incrementalPairsFromIndex(idx, d.filter(isNew),
        "text", "doc_id", k = 5, threshold = 0.6)
      .orderBy("new_id", "corpus_id")
  }

  // ---- d63: UPDATE-chain COMPACTION (DeltaUpdate.compact) — d61's
  // SIGNED twin, closing the lifecycle matrix's last certification gap
  // (VERDICT r17 missing item 1): the serving view pays the accumulated
  // updids/newrows/statsdelta history per probe (delta-sized per batch,
  // unbounded over a chain's life), so after enough re-crawl batches
  // compaction folds every doc's LATEST version into a fresh base — the
  // one amortized recount the per-batch algebra saves — including the
  // shingle family's `sizes` face, which must RE-DERIVE (updates move
  // n_c; it cannot anti-join through like the retract fold). The gate
  // certifies the full cycle: half the re-crawls (odd doc_id) as a
  // delta step on the original base, compact, the other half (even) as
  // a delta step on the COMPACTED base; the final serving view answers
  // the d21 increment probe and d58's rebuild-with-the-new-versions
  // oracle adjudicates — updates → compact → updates ≡ the one-shot
  // rebuild with every latest version. ----
  private def d63(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isNew = col("doc_id") % 10 === 0
    val arch = d.filter(!isNew)
    val recrawl = arch.filter(col("doc_id") % 7 === 1)
      .withColumn("text", concat(col("text"), lit(" "), col("text")))
    val out = graft.TmpHygiene.deleteAtExit(
      graft.TmpHygiene.scratchDir("graft_d63"))
    Dedup.shingleDeltaBase(s, arch, "text", "doc_id",
      s"$out/a/init", k = 5, maxDf = 100)
    def step(chain: String, rows: DataFrame): Unit =
      DeltaUpdate.step(s, chain, "init", 0L, rows.select("doc_id"),
        Dedup.hashedShingleSketch(rows, "text", "doc_id", k = 5),
        Seq("shingle_k5"))
    step(s"$out/a", recrawl.filter(col("doc_id") % 2 === 1))
    Dedup.shingleUpdateCompact(s, s"$out/a", "init", 0L, s"$out/b/init",
      k = 5, maxDf = 100)
    step(s"$out/b", recrawl.filter(col("doc_id") % 2 === 0))
    Dedup.incrementalPairsFromIndex(
        Dedup.shingleUpdateServing(s, s"$out/b", "init", 0L,
          k = 5, maxDf = 100),
        d.filter(isNew), "text", "doc_id", k = 5, threshold = 0.6)
      .orderBy("new_id", "corpus_id")
  }

  // ---- d64: MIXED update+takedown chain (VERDICT r17 missing item
  // 2) — one shingle family artifact, one interleaved stream of
  // re-crawl and takedown batches, all through the DeltaUpdate chain
  // with takedowns modeled as EMPTY-VERSION updates (the one sound
  // routing: two independent chains over one base are blind to each
  // other's statsdelta, so cap decisions diverge the moment a key is
  // touched from both sides — the scaladoc derivation). The
  // interleaving covers every cross composition: update-then-takedown
  // (odd %7==1 ∩ %9==2: the batch-1 decrement must come from the
  // batch-0 version, then vanish), takedown-then-re-crawl (%9==2 ∩
  // %5==0 comes BACK in batch 2 with new tripled text — resurrection
  // falls out of the latest-version algebra free), and plain re-crawls
  // on both sides of the takedown batch. Oracle = the d21 increment
  // probe over the rebuild with latest-versions-minus-takedowns;
  // per-step ordering is spec-pinned in DeltaUpdateSpec. ----
  private def d64(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isNew = col("doc_id") % 10 === 0
    val arch = d.filter(!isNew)
    val doubled = concat(col("text"), lit(" "), col("text"))
    val out = graft.TmpHygiene.deleteAtExit(
      graft.TmpHygiene.scratchDir("graft_d64"))
    Dedup.shingleDeltaBase(s, arch, "text", "doc_id",
      s"$out/init", k = 5, maxDf = 100)
    def step(bid: Long, updIds: DataFrame, rows: DataFrame): Unit =
      DeltaUpdate.step(s, out, "init", bid, updIds,
        Dedup.hashedShingleSketch(rows, "text", "doc_id", k = 5),
        Seq("shingle_k5"))
    val b0 = arch.filter(col("doc_id") % 7 === 1 &&
        col("doc_id") % 2 === 1)
      .withColumn("text", doubled)
    step(0L, b0.select("doc_id"), b0)
    // the takedown batch: empty versions — ids retract, zero newrows
    step(1L, arch.filter(col("doc_id") % 9 === 2).select("doc_id"),
      arch.filter(lit(false)))
    val b2 = arch.filter(col("doc_id") % 7 === 1 &&
        col("doc_id") % 2 === 0 && col("doc_id") % 9 =!= 2)
      .withColumn("text", doubled)
      .unionByName(arch.filter(col("doc_id") % 9 === 2 &&
          col("doc_id") % 5 === 0)
        .withColumn("text",
          concat(col("text"), lit(" "), col("text"), lit(" "),
            col("text"))))
    step(2L, b2.select("doc_id"), b2)
    Dedup.incrementalPairsFromIndex(
        Dedup.shingleUpdateServing(s, out, "init", 2L,
          k = 5, maxDf = 100),
        d.filter(isNew), "text", "doc_id", k = 5, threshold = 0.6)
      .orderBy("new_id", "corpus_id")
  }

  // ---- d65: the AUTO-compacted chain under the driver oracle — the
  // d63 argument applied to the MECHANISM (a bound enforced by spec
  // alone carries no driver-gate evidence): the same d58 re-crawl set
  // arrives as four doc-id-quartile batches through
  // DeltaUpdate.autoStep at compactEvery = 2, so the threshold batch
  // (global 2) folds generation 0 into generation 1 MID-CHAIN and the
  // final serving view reads gen 1's base + one delta face; the d21
  // increment probes it and d58's rebuild-with-the-new-versions
  // oracle adjudicates — the generation-addressed chain composes to
  // the one-shot update through a mid-chain fold. Generation
  // mechanics (replay idempotence, sink wiring, gen-aware stale-chain
  // refusal) are spec-pinned in DeltaUpdateSpec/CurationStreamSpec;
  // the cost bound is measured in `ScaleProbe autocompact`. ----
  private def d65(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isNew = col("doc_id") % 10 === 0
    val arch = d.filter(!isNew)
    val recrawl = arch.filter(col("doc_id") % 7 === 1)
      .withColumn("text", concat(col("text"), lit(" "), col("text")))
    val out = graft.TmpHygiene.deleteAtExit(
      graft.TmpHygiene.scratchDir("graft_d65"))
    Dedup.shingleDeltaBase(s, arch, "text", "doc_id",
      s"${DeltaUpdate.genDir(out, 0L)}/init", k = 5, maxDf = 100)
    val compactFn = (gd: String, upTo: Long, nb: String) =>
      Dedup.shingleUpdateCompact(s, gd, "init", upTo, nb, k = 5,
        maxDf = 100)
    for (b <- 0L to 3L) {
      val rows = recrawl.filter(col("doc_id") % 4 === b)
      DeltaUpdate.autoStep(s, out, "init", b, rows.select("doc_id"),
        Dedup.hashedShingleSketch(rows, "text", "doc_id", k = 5),
        Seq("shingle_k5"), 2)(compactFn)
    }
    Dedup.incrementalPairsFromIndex(
        Dedup.shingleUpdateServing(s, DeltaUpdate.genDir(out, 1L),
          "init", 1L, k = 5, maxDf = 100),
        d.filter(isNew), "text", "doc_id", k = 5, threshold = 0.6)
      .orderBy("new_id", "corpus_id")
  }

  // the final corpus state of d64's interleaving: %9==2 ∩ %5==0 back
  // with TRIPLED text, other %9==2 gone, %7==1 survivors doubled
  // (shared with the s35 streaming gate: the streamed interleaving
  // composes to the batch chain, so one oracle adjudicates both)
  private[graft] val d64Oracle = incrementalDedupOracle(
    archExtra = " AND NOT (doc_id % 9 = 2 AND doc_id % 5 <> 0)",
    docsSrc =
      """(SELECT doc_id,
        |   CASE WHEN doc_id % 10 <> 0 AND doc_id % 9 = 2
        |             AND doc_id % 5 = 0
        |          THEN text || ' ' || text || ' ' || text
        |        WHEN doc_id % 10 <> 0 AND doc_id % 7 = 1
        |             AND doc_id % 9 <> 2
        |          THEN text || ' ' || text
        |        ELSE text END AS text
        | FROM documents)""".stripMargin)

  /** The re-crawled corpus every UPDATE-face oracle replays its family
    * chain over: archive docs (doc_id % 10 <> 0) with doc_id % 7 = 1
    * carry their new (doubled) text, everything else is unchanged —
    * the SQL twin of the gates' `concat(text, ' ', text)`. */
  private[graft] val updatedDocsSrc =
    """(SELECT doc_id,
      |   CASE WHEN doc_id % 10 <> 0 AND doc_id % 7 = 1
      |        THEN text || ' ' || text ELSE text END AS text
      | FROM documents)""".stripMargin

  // shared with the s33 streaming gate
  private[graft] val d59Oracle =
    s"""WITH ${winnowCtesFrom(updatedDocsSrc)},
      |fps AS (SELECT DISTINCT doc_id, fp FROM sel),
      |arch AS (SELECT * FROM fps WHERE doc_id % 10 <> 0),
      |probe AS (SELECT * FROM fps WHERE doc_id % 10 = 0),
      |ok AS (SELECT fp FROM arch GROUP BY fp HAVING COUNT(*) <= 100),
      |ai AS (SELECT arch.* FROM arch JOIN ok USING (fp))
      |SELECT probe.doc_id AS new_id, ai.doc_id AS corpus_id,
      |  COUNT(*)::BIGINT AS shared
      |FROM probe JOIN ai USING (fp)
      |GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |ORDER BY new_id, corpus_id""".stripMargin

  // ---- d56: winnow-index RETRACTION (TextAnalysis.winnowIndexRetract)
  // — the fingerprint-family twin of d55's dedup-groups retract: the
  // archive's UNCAPPED sketch is persisted once, a takedown batch
  // (doc_id % 7 = 1) is retracted by one anti-join + one df recount
  // (no re-winnowing), and the d54 increment then probes the retracted
  // index. The oracle rebuilds from scratch over the surviving archive
  // — green means retract ≡ rebuild-without-them END TO END through
  // the serve path (removed docs' postings gone, df-cap re-applied
  // over survivors; the cap-resurrection direction, where retraction
  // brings a capped-out fingerprint back under maxDf, is spec-pinned
  // in CurationSpec — the fixtures' dfs never reach 100). ----
  private def d56(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val isNew = col("doc_id") % 10 === 0
    val sketch = TextAnalysis.winnowSketch(d.filter(!isNew), "text",
      "doc_id", k = 5, w = 4)
    val retracted = TextAnalysis.winnowIndexRetract(sketch,
      d.filter(!isNew && col("doc_id") % 7 === 1).select("doc_id"),
      maxDf = 100)
    TextAnalysis.winnowProbeMatches(d.filter(isNew), retracted, "text",
        "doc_id", k = 5, w = 4, minShared = 2)
      .orderBy("new_id", "corpus_id")
  }

  private[graft] val d56Oracle =
    s"""WITH $winnowCtes,
      |fps AS (SELECT DISTINCT doc_id, fp FROM sel),
      |arch AS (SELECT * FROM fps
      |  WHERE doc_id % 10 <> 0 AND doc_id % 7 <> 1),
      |probe AS (SELECT * FROM fps WHERE doc_id % 10 = 0),
      |ok AS (SELECT fp FROM arch GROUP BY fp HAVING COUNT(*) <= 100),
      |ai AS (SELECT arch.* FROM arch JOIN ok USING (fp))
      |SELECT probe.doc_id AS new_id, ai.doc_id AS corpus_id,
      |  COUNT(*)::BIGINT AS shared
      |FROM probe JOIN ai USING (fp)
      |GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |ORDER BY new_id, corpus_id""".stripMargin

  // ---- d53: BPE merge APPLICATION — the usable half of d47: the three
  // learned merges segment every document's lowercase-alpha words
  // (two-space symbol encoding, '|' word boundaries the merge pattern
  // cannot cross), and the gate certifies per-document sequence lengths
  // before and after. The oracle re-learns the merges with d47's exact
  // CTE chain and applies them with the same literal global
  // regexp_replace semantics — learner and applier certified against
  // one replay. ----
  private def d53(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // bounded driver collect: `steps` rows, the learner's output size
    val merges = TextAnalysis.learnBpeMerges(d, "text", steps = 3)
      .orderBy("step").collect().map(_.getString(1)).toSeq
    TextAnalysis.applyBpeMerges(d, "text", "doc_id", merges)
      .orderBy("doc_id")
  }

  private val d53Oracle =
    s"""WITH $bpeCtes,
      |de AS (
      |  SELECT doc_id,
      |    list_filter(regexp_extract_all(lower(text), '\\S+'),
      |      w -> regexp_full_match(w, '[a-z]+')) AS aw
      |  FROM documents),
      |e0 AS (
      |  SELECT doc_id, len(aw)::BIGINT AS n_alpha_words,
      |    array_to_string(list_transform(aw,
      |      w -> ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '),
      |      '|') AS s
      |  FROM de),
      |a1 AS (
      |  SELECT doc_id, n_alpha_words,
      |    len(regexp_extract_all(s, '[a-z]+'))::BIGINT AS n_base_symbols,
      |    regexp_replace(s, ' ' || replace(p, ' ', '  ') || ' ',
      |      ' ' || replace(p, ' ', '') || ' ', 'g') AS s
      |  FROM e0, p1),
      |a2 AS (
      |  SELECT doc_id, n_alpha_words, n_base_symbols,
      |    regexp_replace(s, ' ' || replace(p, ' ', '  ') || ' ',
      |      ' ' || replace(p, ' ', '') || ' ', 'g') AS s
      |  FROM a1, p2),
      |a3 AS (
      |  SELECT doc_id, n_alpha_words, n_base_symbols,
      |    regexp_replace(s, ' ' || replace(p, ' ', '  ') || ' ',
      |      ' ' || replace(p, ' ', '') || ' ', 'g') AS s
      |  FROM a2, p3)
      |SELECT doc_id, n_alpha_words, n_base_symbols,
      |  len(regexp_extract_all(s, '[a-z]+'))::BIGINT AS n_symbols
      |FROM a3 ORDER BY doc_id""".stripMargin

  // ---- d49: winnowing fingerprint selection (Schleimer et al. 2003,
  // the MOSS local sketch) over word-5-grams with window w = 4. The
  // whole selection — packed (hash, ¬pos) keys, the w-row frame min,
  // the start-position filter, the distinct — is replayed verbatim in
  // SQL; the gate row certifies the full per-document selection SET via
  // order-free exact BIGINT aggregates (count, min, max, and a
  // position-weighted checksum Σ (fp_pos·2³² + fp) mod (2³¹−1) — each
  // term is reduced below 2³¹ BEFORE the sum, so even the maximum
  // 2²⁰-fingerprint document sums under 2⁵¹: no overflow on either
  // engine, and the sum stays order-free), one row per document. ----
  private def d49(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowFingerprints(docs(s, dir), "text", "doc_id",
        k = 5, w = 4)
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"),
        sum(pmod(col("fp_pos") * lit(4294967296L) + col("fp"),
          lit(2147483647L))).as("fp_checksum"))
      .orderBy("doc_id")

  /** Shared winnowing replay (d49's selection chain, ending in `sel` =
    * the per-doc fingerprint set) — interpolated by the d49/d51/d54
    * oracles (s18 reuses d54Oracle whole, not this fragment). A `def`,
    * not a `val`: d54Oracle interpolates it from EARLIER in this
    * object's initialization order (a val would still be null there). */
  private def winnowCtes: String = winnowCtesFrom("documents")

  /** [[winnowCtes]] over an arbitrary documents source — the d59
    * update oracle replays the winnow chain against the
    * corpus-with-new-versions (the d58 docsSrc pattern). */
  private def winnowCtesFrom(docsSrc: String): String =
    s"""wds AS (
      |  SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM $docsSrc),
      |sh AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 4),
      |    i -> {'pos': i, 'h': ('0x' || substr(sha256(
      |      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
      |      ws[i+3] || ' ' || ws[i+4]), 1, 8))::BIGINT})) AS u
      |  FROM wds WHERE len(ws) >= 5),
      |k AS (
      |  SELECT doc_id, u.pos AS pos,
      |    u.h * 1048576 + (1048575 - u.pos) AS key FROM sh),
      |mn AS (
      |  SELECT doc_id, pos,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS n,
      |    MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
      |  FROM k),
      |sel AS (
      |  SELECT DISTINCT doc_id,
      |    1048575 - (mk % 1048576) AS fp_pos, mk // 1048576 AS fp
      |  FROM mn WHERE pos <= GREATEST(n - 3, 1))""".stripMargin

  private val d49Oracle =
    s"""WITH $winnowCtes
      |SELECT doc_id, COUNT(*)::BIGINT AS n_fp,
      |  MIN(fp) AS min_fp, MAX(fp) AS max_fp,
      |  CAST(SUM((fp_pos * 4294967296 + fp) % 2147483647) AS BIGINT)
      |    AS fp_checksum
      |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- d51: winnowed-sketch match pairs — the MOSS detector over
  // d49's fingerprints: distinct per-doc selected hashes, a df-capped
  // inverted index on the hash (the d6/d20 BETWEEN 2 AND cap contract),
  // and pairs scored by shared-fingerprint count. The winnowing theorem
  // makes the score a guaranteed detector: any shared run of
  // w + k − 1 = 8 words yields ≥ 1 shared fingerprint, so minShared = 2
  // demands roughly two independent shared regions (or one long one). ----
  private def d51(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowMatchPairs(docs(s, dir), "text", "doc_id",
        k = 5, w = 4, minShared = 2, maxDf = 100)
      .orderBy("doc_a", "doc_b")

  private val d51Oracle =
    s"""WITH $winnowCtes,
      |fps AS (SELECT DISTINCT doc_id, fp FROM sel),
      |ok AS (
      |  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND 100),
      |f AS (SELECT fps.* FROM fps JOIN ok USING (fp))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  COUNT(*)::BIGINT AS shared
      |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY doc_a, doc_b""".stripMargin

  def all: Seq[QueryDef] = Seq(
    QueryDef("d49_winnow_fingerprints", d49, Some(d49Oracle)),
    QueryDef("d51_winnow_matches", d51, Some(d51Oracle)),
    QueryDef("d53_bpe_apply", d53, Some(d53Oracle)),
    QueryDef("d54_winnow_incremental", d54, Some(d54Oracle)),
    QueryDef("d56_winnow_retract", d56, Some(d56Oracle)),
    QueryDef("d57_shingle_retract", d57, Some(d57Oracle)),
    QueryDef("d58_shingle_update", d58, Some(d58Oracle)),
    QueryDef("d61_delta_compact", d61, Some(d57Oracle)),
    QueryDef("d63_update_compact", d63, Some(d58Oracle)),
    QueryDef("d64_mixed_chain", d64, Some(d64Oracle)),
    QueryDef("d65_auto_compact_chain", d65, Some(d58Oracle)),
    QueryDef("d59_winnow_update", d59, Some(d59Oracle)),
    QueryDef("d47_bpe_merges", d47, Some(d47Oracle)),
    QueryDef("d45_zipf_fit", d45, Some(d45Oracle)),
    QueryDef("d46_source_overlap", d46, Some(d46Oracle)),
    QueryDef("d44_token_pmi", d44, Some(d44Oracle)),
    QueryDef("d16_contamination", d16, Some(d16Oracle)),
    QueryDef("d17_repetition_quality", d17, Some(d17Oracle)),
    QueryDef("d18_source_quota", d18, Some(d18Oracle)),
    QueryDef("d19_weighted_mix", d19, Some(d19Oracle)),
    QueryDef("d20_dup_shingles", d20, Some(d20Oracle)),
    QueryDef("d21_incremental_dedup", d21, Some(d21Oracle)),
    QueryDef("d22_token_budget", d22, Some(d22Oracle)),
    QueryDef("d23_pii_redact", d23, Some(d23Oracle)),
    QueryDef("d24_line_dedup", d24, Some(d24Oracle)),
    QueryDef("d25_bm25_rank", d25, Some(d25Oracle)),
    QueryDef("d26_fuzzy_join", d26, Some(d26Oracle)),
    QueryDef("d27_quality_model", d27, Some(d27Oracle)),
    QueryDef("d28_unigram_surprisal", d28, Some(d28Oracle)),
    QueryDef("d29_sequence_pack", d29, Some(d29Oracle)),
    QueryDef("d31_curation_pipeline", d31, Some(d31Oracle)),
    QueryDef("d32_substr_dedup", d32, Some(d32Oracle)),
    QueryDef("d33_bigram_surprisal", d33, Some(d33Oracle)),
    QueryDef("d37_nfc_normalize", d37, Some(d37Oracle)),
    QueryDef("d38_url_filter", d38, Some(d38Oracle)),
    QueryDef("d39_c4_line_filter", d39, Some(d39Oracle)),
    QueryDef("d40_corpus_report", d40, Some(d40Oracle)),
    QueryDef("d42_dsir_select", d42, Some(d42Oracle)))
}
