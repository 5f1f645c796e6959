"""Training-data-pipeline queries: dedup, similarity search, text analysis,
multimodal — the SURVEY.md §7 M5 surface, each with a DuckDB oracle where
the computation is engine-portable (md5, list ops, cosine — all verified
bit-exact between Spark and DuckDB), rows-only where it depends on Spark's
xxhash64 (minhash/simhash).

Oracle typing note: DuckDB's length()/row_number() return BIGINT where
Spark's size()/row_number() return INT — oracles cast to INTEGER to keep
schemas aligned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_numba_spark.operators import dedup as D
from polars_numba_spark.operators import multimodal as M
from polars_numba_spark.operators import similarity as S
from polars_numba_spark.operators import text as X
from polars_numba_spark.queries.catalog import _t, register


_MD5INT_SQL = "CAST(CAST(('0x' || substr(md5({x}), 1, 15)) AS UBIGINT) AS BIGINT)"


def _minhash_band_sql(
    num_hashes: int, bands: int, carry: str = ""
) -> tuple[str, str]:
    """(signature expr list, band CTE body) for the portable md5 minhash —
    the SQL twin of minhash_signature/minhash_lsh_candidates(portable=True).
    ``carry`` names extra comma-prefixed columns (e.g. ", source") to thread
    from ``sigs`` through the band CTE — the SQL twin of ``block_by``."""
    rows = num_hashes // bands
    sig_list = ", ".join(
        "list_min(list_transform(t, tok -> "
        + _MD5INT_SQL.format(x="tok || '#%d'" % i)
        + "))"
        for i in range(num_hashes)
    )
    band_concat = " || ',' || ".join(
        f"CAST(sig[band_idx * {rows} + {r + 1}] AS VARCHAR)" for r in range(rows)
    )
    band_idx_list = ",".join(str(b) for b in range(bands))
    band_body = (
        f"SELECT doc_id{carry}, t, band_idx, md5({band_concat}) AS band_hash "
        f"FROM sigs, (SELECT UNNEST([{band_idx_list}]) AS band_idx)"
    )
    return sig_list, band_body


_CLUSTER_SIG, _CLUSTER_BANDS = _minhash_band_sql(32, 8)



# --- text analysis ---------------------------------------------------------


@register(
    "doc_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST({X.SQL_TOKEN_COUNT.format(c='text')} AS INTEGER) AS n_tokens,
           CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_tokens_bpe,
           CAST(length(list_distinct({X.SQL_TOKENS.format(c='text')})) AS INTEGER) AS n_distinct_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_obs
    FROM documents
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex + distinct counts — all
    codegen'd expressions over one scan (no shuffle at all)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.bpe_ish_token_count("text").alias("n_tokens_bpe"),
        F.size(F.array_distinct(X.tokens("text"))).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_obs"),
    )


@register(
    "doc_quality_scores",
    oracle=f"""
    SELECT doc_id, {X.sql_quality('text')} AS quality FROM documents
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: frozen formula over length/punct/stopword features;
    oracle replicates the identical double arithmetic."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", X.quality_score("text").alias("quality"))


@register(
    "doc_repetition_stats",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents
    ), per_doc AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               1.0 - CAST(len(list_distinct(t)) AS DOUBLE)
                     / CAST(len(t) AS DOUBLE) AS token_rep_frac, t
        FROM toks
    ), bg AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i + 1])) AS bg
        FROM per_doc
    ), counts AS (
        SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg
    ), agg AS (
        SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bg FROM counts GROUP BY doc_id
    )
    SELECT p.doc_id AS doc_id, p.n_tokens AS n_tokens,
           p.token_rep_frac AS token_rep_frac,
           COALESCE(CAST(a.top_c AS DOUBLE) / CAST(a.n_bg AS DOUBLE), 0.0)
               AS top_bigram_frac
    FROM per_doc p LEFT JOIN agg a ON p.doc_id = a.doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-content quality signals (the Gopher/C4 repetition filters):
    repeated-token fraction and top-bigram share per document — the
    boilerplate/keyword-stuffing detector a curation pipeline runs next to
    length/stopword scoring. Oracle reproduces the identical tokenization
    and double arithmetic in DuckDB list functions."""
    d = _t(spark, sf_dir, "documents")
    return X.repetition_stats(d, "text", "doc_id")


@register(
    "doc_unigram_logprob",
    oracle=r"""
    WITH occ AS (
        SELECT doc_id,
               UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok, COUNT(*) AS cnt FROM occ GROUP BY tok
    ), v2 AS (
        SELECT tok,
               ROUND(LN(CAST(cnt AS DOUBLE) /
                        CAST(SUM(cnt) OVER () AS DOUBLE)), 9) AS logp
        FROM vocab
    )
    SELECT o.doc_id AS doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CAST(v2.logp AS DECIMAL(28,12))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_logprob
    FROM occ o JOIN v2 ON o.tok = v2.tok
    GROUP BY o.doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-proxy quality scoring: mean unigram log-likelihood per document
    under the corpus's own unigram distribution (the CCNet perplexity-bucket
    signal). Hash-exact across engines via round-9 log terms accumulated as
    exact decimals — see operators/text.py::unigram_logprob_scores."""
    d = _t(spark, sf_dir, "documents")
    return X.unigram_logprob_scores(d, "text", "doc_id")


_BIGRAM_LAM = 0.7

# The full bigram-scoring pipeline as one DuckDB subquery (doc_id,
# n_tokens, avg_bigram_logprob) — shared by doc_bigram_logprob and the
# perplexity-bucket mix so both oracles score with ONE spelling.
_BIGRAM_SCORE_SQL = rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents
    ), pos AS (
        SELECT doc_id, UNNEST(range(1, len(t) + 1)) AS i, t FROM toks
    ), occ AS (
        SELECT doc_id, i, t[i] AS tok,
               CASE WHEN i > 1 THEN t[i - 1] END AS prev
        FROM pos
    ), uni AS (
        SELECT tok, COUNT(*) AS c1 FROM occ GROUP BY tok
    ), pu AS (
        SELECT tok,
               CAST(c1 AS DOUBLE) / CAST(SUM(c1) OVER () AS DOUBLE) AS pu
        FROM uni
    ), big AS (
        SELECT prev, tok FROM occ WHERE prev IS NOT NULL
    ), c2 AS (
        SELECT prev, tok, COUNT(*) AS c2 FROM big GROUP BY prev, tok
    ), cp AS (
        SELECT prev, COUNT(*) AS cprev FROM big GROUP BY prev
    ), pb AS (
        SELECT c2.prev, c2.tok,
               CAST(c2.c2 AS DOUBLE) / CAST(cp.cprev AS DOUBLE) AS pb
        FROM c2 JOIN cp USING (prev)
    ), scored AS (
        SELECT o.doc_id,
               ROUND(LN(CASE WHEN p.pb IS NOT NULL
                             THEN {_BIGRAM_LAM!r} * p.pb
                                  + {1.0 - _BIGRAM_LAM!r} * u.pu
                             ELSE u.pu END), 9) AS logp
        FROM occ o
        JOIN pu u ON u.tok = o.tok
        LEFT JOIN pb p ON p.prev = o.prev AND p.tok = o.tok
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CAST(logp AS DECIMAL(28,12))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_bigram_logprob
    FROM scored GROUP BY doc_id
    """


@register(
    "doc_kneser_ney_logprob",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents
    ), pos AS (
        SELECT doc_id, UNNEST(range(1, len(t) + 1)) AS i, t FROM toks
    ), occ AS (
        SELECT doc_id, i, t[i] AS tok,
               CASE WHEN i > 1 THEN t[i - 1] END AS prev
        FROM pos
    ), big AS (
        SELECT prev, tok FROM occ WHERE prev IS NOT NULL
    ), c2 AS (
        SELECT prev, tok, COUNT(*) AS c2 FROM big GROUP BY prev, tok
    ), ctx AS (
        SELECT prev, CAST(SUM(c2) AS BIGINT) AS cprev, COUNT(*) AS n1fw
        FROM c2 GROUP BY prev
    ), cont AS (
        SELECT tok, COUNT(*) AS n1bw FROM c2 GROUP BY tok
    ), btot AS (
        SELECT COUNT(*) AS b FROM c2
    ), scored AS (
        SELECT o.doc_id,
               ROUND(LN(
                 CASE WHEN o.prev IS NULL OR x.cprev IS NULL THEN
                   CAST(COALESCE(ct.n1bw, 1) AS DOUBLE) / CAST(bt.b AS DOUBLE)
                 ELSE
                   GREATEST(CAST(COALESCE(c.c2, 0) AS DOUBLE) - 0.75, 0.0)
                     / CAST(x.cprev AS DOUBLE)
                   + 0.75 * CAST(x.n1fw AS DOUBLE) / CAST(x.cprev AS DOUBLE)
                     * (CAST(COALESCE(ct.n1bw, 1) AS DOUBLE)
                        / CAST(bt.b AS DOUBLE))
                 END), 9) AS logp
        FROM occ o
        LEFT JOIN cont ct ON ct.tok = o.tok
        LEFT JOIN c2 c ON c.prev = o.prev AND c.tok = o.tok
        LEFT JOIN ctx x ON x.prev = o.prev
        CROSS JOIN btot bt
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CAST(logp AS DECIMAL(28,12))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_kn_logprob
    FROM scored GROUP BY doc_id
    """,
)
def doc_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram LM scoring — the state-of-the-art
    count-based smoothing (the KenLM default) next to the plain
    interpolated bigram face: discounted bigram mass redistributes to
    CONTINUATION probability (contexts-completed, not raw frequency), so
    context-bound tokens stop absorbing backoff mass. Fully oracled:
    every count is exact, D = 0.75 is binary-exact, the probability is a
    fixed double dag, and per-doc log sums use the round-9 +
    DECIMAL(28,12) contract. See
    operators/text.py::kneser_ney_logprob_scores for the plan shape."""
    d = _t(spark, sf_dir, "documents")
    return X.kneser_ney_logprob_scores(d, "text", "doc_id", discount=0.75)


@register("doc_bigram_logprob", oracle=_BIGRAM_SCORE_SQL)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated BIGRAM LM quality proxy (word order now matters —
    shuffled text keeps its unigram score but craters here): per-doc mean
    of log(0.7·P(t|prev) + 0.3·P(t)) under the corpus's own counts; the
    first token of a document scores unigram-only. Same round-9 +
    decimal-sum determinism contract as the unigram scorer; the
    interpolation weights are embedded from the SAME Python floats on
    both sides (1.0 - 0.7 is NOT the double 0.3 — repr round-trips it).
    See operators/text.py::bigram_logprob_scores for the plan shape."""
    d = _t(spark, sf_dir, "documents")
    return X.bigram_logprob_scores(d, "text", "doc_id", lam=_BIGRAM_LAM)


@register(
    "doc_perplexity_buckets",
    oracle=f"""
    WITH score AS ({_BIGRAM_SCORE_SQL}),
    b AS (
        SELECT doc_id, n_tokens, avg_bigram_logprob,
               NTILE(4) OVER (ORDER BY avg_bigram_logprob DESC, doc_id) AS bucket
        FROM score
    )
    SELECT bucket, COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(avg_bigram_logprob) AS min_score,
           MAX(avg_bigram_logprob) AS max_score
    FROM b GROUP BY bucket
    """,
)
def doc_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: rank every document by its
    bigram-LM score and cut the corpus into quartiles (head = most
    fluent … tail = most atypical) — the partition a quality-curriculum
    mix samples from at different rates. NTILE over (score DESC, doc_id)
    is engine-deterministic because the scores themselves are (decimal
    sums of round-9 logs, hash-proven by doc_bigram_logprob); bucket
    MEMBERSHIP is pinned by id_sum. Both oracles score through the one
    shared SQL spelling (_BIGRAM_SCORE_SQL).

    The global NTILE runs over the per-doc SCORE table (1 row/doc), not
    the corpus — still a single-partition sort; at billions of docs swap
    in the distributed equivalent: repartitionByRange(score) +
    percent_rank-by-offset (a range sort, the exact shape
    parallel_scan_running_balance already demonstrates)."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    scores = X.bigram_logprob_scores(d, "text", "doc_id", lam=_BIGRAM_LAM)
    w = Window.orderBy(F.col("avg_bigram_logprob").desc(), "doc_id")
    return (
        scores.withColumn("bucket", F.ntile(4).over(w))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("avg_bigram_logprob").alias("min_score"),
            F.max("avg_bigram_logprob").alias("max_score"),
        )
    )


@register(
    "doc_tfidf_top_terms",
    oracle=r"""
    WITH occ AS (
        SELECT doc_id,
               UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM occ GROUP BY doc_id, tok
    ), dfreq AS (
        SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), n AS (
        SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
        SELECT doc_id, tok, tf,
               ROUND(tf * LN(CAST((SELECT n_docs FROM n) AS DOUBLE)
                             / CAST(df AS DOUBLE)), 9) AS tfidf
        FROM tf JOIN dfreq USING (tok)
    )
    SELECT doc_id, tok AS term, CAST(rank AS INTEGER) AS rank, tf, tfidf
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, tok
        ) AS rank FROM scored
    ) WHERE rank <= 3
    """,
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword/topic-drift signal
    next to the quality scores. Ranking happens on the ROUND-9 score so
    the ordering is rounding-stable cross-engine; document frequencies
    derive from the (doc, term) aggregate (one corpus pass), corpus size
    joins in as a broadcast 1-row aggregate
    (operators/text.py::tfidf_top_terms)."""
    d = _t(spark, sf_dir, "documents")
    return X.tfidf_top_terms(d, "text", "doc_id", top_k=3)


@register(
    "doc_heavy_tokens",
    oracle=r"""
    WITH occ AS (
        SELECT lang,
               UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents
    ), totals AS (
        SELECT lang, COUNT(*) AS total FROM occ GROUP BY lang
    ), counts AS (
        SELECT lang, token, COUNT(*) AS cnt FROM occ GROUP BY lang, token
    )
    SELECT c.lang, c.token, c.cnt,
           ROUND(CAST(c.cnt AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS share
    FROM counts c JOIN totals t USING (lang)
    WHERE c.cnt * 40 > t.total
    """,
)
def doc_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-language heavy-hitter tokens (> 1/40 share of the
    language's token occurrences) — the stopword/boilerplate-discovery
    signal, computed by the two-pass bounded-shuffle frequent-items
    operator (operators/sketch.py::heavy_hitters): a per-partition
    Misra-Gries candidate pass (≤k counters per group per partition — the
    shuffle never carries the full token vocabulary) followed by an exact
    broadcast-semi-join recount. The oracle is the unbounded GROUP BY +
    HAVING spelling — the two must match row-for-row because pass 2 is
    exact and the MG candidate set provably contains every true heavy
    hitter."""
    from polars_numba_spark.operators.sketch import heavy_hitters

    d = _t(spark, sf_dir, "documents")
    occ = d.select("lang", F.explode(X.tokens("text")).alias("token"))
    return heavy_hitters(occ, "token", "lang", k=40)


@register(
    "doc_pii_scrub",
    oracle=r"""
    WITH injected AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 7 = 0
                            THEN ' contact user' || doc_id ||
                                 '@example.com or 555-123-4567 now'
                            ELSE '' END AS t
        FROM documents
    ), redacted AS (
        SELECT doc_id, t,
               regexp_replace(
                   regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                                  '<EMAIL>', 'g'),
                   '\d{3}[-.]\d{3}[-.]\d{4}', '<PHONE>', 'g') AS clean
        FROM injected
    )
    SELECT doc_id,
           CAST(length(regexp_extract_all(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
               AS n_emails,
           CAST(length(regexp_extract_all(t,
                '\d{3}[-.]\d{3}[-.]\d{4}')) AS INTEGER) AS n_phones,
           md5(clean) AS clean_digest,
           CAST(length(clean) AS INTEGER) AS n_chars_clean
    FROM redacted
    """,
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (the C4-style hygiene pass): email/phone detection
    counts plus the md5 of the redacted text. The synthetic corpus contains
    no natural PII, so the query INJECTS deterministic PII into every 7th
    document and both engines must agree byte-for-byte on the redaction —
    the digest makes this a hard cross-engine regex-semantics differential
    (patterns restricted to the Java-regex ∩ RE2 common subset)."""
    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567 now"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    counts = X.pii_counts("t")
    return injected.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        F.md5(X.redact_pii("t")).alias("clean_digest"),
        F.length(X.redact_pii("t")).alias("n_chars_clean"),
    )


@register(
    "doc_duplicated_passages",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, UNNEST({X.sql_token_shingles('text', 8)}) AS s
        FROM documents
    ), counts AS (
        SELECT s, COUNT(*) AS n_docs FROM sh GROUP BY s
    ), per_doc AS (
        SELECT sh.doc_id, COUNT(*) AS n_shingles,
               SUM(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM sh JOIN counts c ON sh.s = c.s
        GROUP BY sh.doc_id
    )
    SELECT d.doc_id AS doc_id,
           CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           COALESCE(CAST(p.n_dup AS DOUBLE) / CAST(p.n_shingles AS DOUBLE), 0.0)
               AS dup_shingle_frac
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
)
def doc_duplicated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage fraction per document: the share of a document's
    distinct 8-token shingles that occur in at least one OTHER document.
    Pairwise near-dup passes catch globally-similar documents; this is the
    passage-level contamination metric that catches boilerplate pasted
    across otherwise-distinct documents (the ExactSubstr-dedup signal,
    shingle-approximated). Oracle reproduces the identical shingling and
    arithmetic in DuckDB list functions."""
    d = _t(spark, sf_dir, "documents")
    return D.duplicated_shingle_fraction(d, "text", "doc_id", shingle_n=8)


@register(
    "doc_duplicated_spans",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents
    ), pos_sh AS (
        SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
               array_to_string(t[i : i + 7], ' ') AS sh
        FROM toks, UNNEST(range(1, greatest(length(t) - 7, 0) + 1)) AS u(i)
    ), dup_sh AS (
        SELECT sh FROM pos_sh GROUP BY sh HAVING COUNT(*) >= 2
    ), dup AS (
        SELECT p.doc_id, p.pos FROM pos_sh p JOIN dup_sh USING (sh)
    ), isl AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER w IS NULL
                      OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS new_isl
        FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), grouped AS (
        SELECT doc_id, pos,
               SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM isl
    )
    SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS span_start,
           CAST(MAX(pos) + 8 AS INTEGER) AS span_end,
           CAST(MAX(pos) + 8 - MIN(pos) AS INTEGER) AS span_tokens
    FROM grouped GROUP BY doc_id, island
    """,
)
def doc_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True ExactSubstr passage dedup (round-5 upgrade of the shingle
    fraction): the maximal duplicated token spans per document, via
    positioned 8-shingles → corpus occurrence counts → gaps-and-islands
    run-merging. The DuckDB oracle rebuilds the spans independently
    (positions from UNNEST(range), the same window-island merge)."""
    d = _t(spark, sf_dir, "documents")
    return D.duplicated_spans(d, "text", "doc_id", shingle_n=8)


@register(
    "doc_remove_passages",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents
    ), pos_sh AS (
        SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
               array_to_string(t[i : i + 7], ' ') AS sh
        FROM toks, UNNEST(range(1, greatest(length(t) - 7, 0) + 1)) AS u(i)
    ), dup_sh AS (
        SELECT sh FROM pos_sh GROUP BY sh HAVING COUNT(*) >= 2
    ), dup AS (
        SELECT p.doc_id, p.pos FROM pos_sh p JOIN dup_sh USING (sh)
    ), rm AS (
        SELECT DISTINCT doc_id, pos + k AS pos
        FROM dup, UNNEST(range(0, 8)) AS r(k)
    ), alltok AS (
        SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, t[i] AS tok
        FROM toks, UNNEST(range(1, length(t) + 1)) AS u(i)
    ), kept AS (
        SELECT a.doc_id, a.pos, a.tok
        FROM alltok a LEFT JOIN rm ON a.doc_id = rm.doc_id AND a.pos = rm.pos
        WHERE rm.doc_id IS NULL
    )
    SELECT d.doc_id,
           COALESCE(k.cnt, 0) AS n_tokens_kept,
           COALESCE(k.txt, '') AS clean_text
    FROM documents d LEFT JOIN (
        SELECT doc_id, COUNT(*) AS cnt,
               string_agg(tok, ' ' ORDER BY pos) AS txt
        FROM kept GROUP BY doc_id
    ) k USING (doc_id)
    """,
)
def doc_remove_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr's CUT step: every token position covered by a duplicated
    8-shingle is dropped and the document rebuilt from the survivors in the
    normalized token space. The oracle rebuilds the removal set and the
    string independently (UNNEST-positioned tokens, string_agg ORDER BY
    pos) — the whole passage-dedup story is now gated end to end:
    fraction → spans → removal (operators/dedup.py::remove_duplicated_passages)."""
    d = _t(spark, sf_dir, "documents")
    return D.remove_duplicated_passages(d, "text", "doc_id", shingle_n=8)


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH durations AS (
        -- text IS NOT NULL mirrors the decoder: a failed fetch (null
        -- payload) yields no container and therefore no frames
        SELECT doc_id,
               octet_length(encode(text)) * 1000 // 1024 AS duration_ms
        FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    ), counts AS (
        SELECT doc_id,
               LEAST(8, GREATEST(1, duration_ms // 100 + 1)) AS n
        FROM durations
    )
    SELECT c.doc_id AS doc_id, CAST(i.i AS INTEGER) AS frame_idx,
           CAST(i.i * 100 AS BIGINT) AS ts_ms,
           CAST(16 AS INTEGER) AS frame_bytes
    FROM counts c, LATERAL (SELECT UNNEST(range(c.n)) AS i) i
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing as a gated query: UTF-8 text bytes
    stand in for the container (same convention as multimodal_features),
    and the oracle independently reproduces the SAMPLING SCHEDULE — which
    documents yield how many frames at which timestamps (1 KiB ≈ 1 s,
    every 100 ms, capped at 8) — hash-exact. The frame BYTES come from
    the deterministic fake decoder (md5 over raw binary, which DuckDB
    cannot hash) and are pinned by unit test instead; the gate carries
    their length."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    frames = M.sample_frames(
        M.attach_payload(d).select("doc_id", "payload"), every_ms=100, max_frames=8
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        "ts_ms",
        F.octet_length("frame").alias("frame_bytes"),
    )


@register(
    "doc_language_id",
    oracle=f"""
    SELECT {X.sql_language_id('text')} AS lang_pred, lang AS lang_label,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-hit argmax) crossed against the
    labeled lang column — a confusion-matrix rollup."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            X.language_id("text").alias("lang_pred"),
            F.col("lang").alias("lang_label"),
        )
        .groupBy("lang_pred", "lang_label")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- deduplication ---------------------------------------------------------


@register(
    "dedup_exact_digests",
    oracle="""
    SELECT md5(text) AS digest, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one shuffle on a uniform content digest."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("digest", D.exact_dedup_key("text"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_id"))
    )


@register(
    "dedup_fingerprint_groups",
    oracle=f"""
    SELECT {X.SQL_FINGERPRINT.format(c='text')} AS fp,
           COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
)
def dedup_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive near-dup buckets (sorted-distinct-token md5)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("fp", X.fingerprint("text"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


_JACCARD_SIG, _JACCARD_BANDS = _minhash_band_sql(16, 4, carry=", source")


@register(
    "dedup_jaccard_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_sort(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
        FROM documents
    ), sigs AS (
        SELECT doc_id, source, t, [ {_JACCARD_SIG} ] AS sig FROM toks
    ), banded AS (
        {_JACCARD_BANDS}
    ), cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.t AS ta, b.t AS tb
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.source = b.source AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id,
           CAST(length(ta) + length(tb) - length(list_distinct(list_concat(ta, tb))) AS DOUBLE)
           / length(list_distinct(list_concat(ta, tb))) AS jaccard
    FROM cands
    WHERE CAST(length(ta) + length(tb) - length(list_distinct(list_concat(ta, tb))) AS DOUBLE)
          / length(list_distinct(list_concat(ta, tb))) >= 0.8
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram(1) Jaccard near-dup pairs over LSH-banded candidates,
    blocked by (source ∩ band bucket) — BOTH engines band identically with
    the portable md5 minhash (16 hashes, 4 bands), so the candidate set is
    deterministic and the Jaccard arithmetic stays bit-exact cross-engine.

    Round-5 change (r4 verdict "What's wrong" #1): the r2-r4 form generated
    ALL within-source pairs before the verifier — O(n²) in a hot source
    block at corpus scale. Candidates now come from the same banded
    equi-join shape as the production path (`minhash_lsh_candidates` with
    ``block_by="source"``); no pairwise join on a bare blocking key
    remains in the plan (pinned in test_plans.py)."""
    d = _t(spark, sf_dir, "documents")
    cands = D.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, portable=True, block_by="source"
    )
    # verify_partitions: the banded candidate set here is large (~139k
    # verified pairs at sf0.1) and the verify is per-pair set arithmetic —
    # widening it past AQE's byte-based coalescing measured 7.2s → 5.2s.
    return D.jaccard_pairs(
        d,
        cands,
        prune_threshold=0.8,
        verify_partitions=spark.sparkContext.defaultParallelism,
    ).where(F.col("jaccard") >= 0.8)


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_sort(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
        FROM documents
    ), sigs AS (
        SELECT doc_id, source, t, [ {_JACCARD_SIG} ] AS sig FROM toks
    ), banded AS (
        {_JACCARD_BANDS}
    ), cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.t AS ta, b.t AS tb
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.source = b.source AND a.doc_id < b.doc_id
    ), scored AS (
        SELECT a_id, b_id,
               CAST(length(ta) + length(tb) - length(list_distinct(list_concat(ta, tb))) AS DOUBLE)
                   / length(ta) AS containment_a,
               CAST(length(ta) + length(tb) - length(list_distinct(list_concat(ta, tb))) AS DOUBLE)
                   / length(tb) AS containment_b
        FROM cands
    )
    SELECT a_id, b_id, containment_a, containment_b
    FROM scored WHERE GREATEST(containment_a, containment_b) >= 0.9
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-Jaccard (containment) dedup over the same portable banded
    candidates as dedup_jaccard_pairs: a document whose token set is ≥90%
    inside another is flagged even when symmetric Jaccard stays low (the
    quote-expansion case). Candidate generation, set arithmetic, and the
    greatest() filter all reproduce independently in DuckDB
    (operators/dedup.py::containment_pairs — recall caveat for banded
    candidates documented there)."""
    d = _t(spark, sf_dir, "documents")
    cands = D.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, portable=True, block_by="source"
    )
    scored = D.containment_pairs(
        d, cands, verify_partitions=spark.sparkContext.defaultParallelism
    )
    return scored.where(
        F.greatest(F.col("containment_a"), F.col("containment_b")) >= 0.9
    )


@register(
    "dedup_containment_complete",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {X.sql_token_shingles('text', 8)} AS t
        FROM documents WHERE doc_id < 300
    ), occ AS (
        SELECT doc_id, UNNEST(t) AS tok FROM toks
    ), dfreq AS (
        SELECT tok, COUNT(*) AS df FROM occ GROUP BY tok
    ), ranked AS (
        SELECT doc_id, list(o.tok ORDER BY d.df, o.tok) AS sorted_toks
        FROM occ o JOIN dfreq d ON o.tok = d.tok GROUP BY doc_id
    ), prefixes AS (
        SELECT doc_id AS a_id,
               UNNEST(sorted_toks[1 : CAST(len(sorted_toks)
                   - CEIL(len(sorted_toks) * 0.9 - 1e-9) + 1 AS INTEGER)]) AS tok
        FROM ranked
    ), cands AS (
        SELECT DISTINCT p.a_id, o.doc_id AS b_id
        FROM prefixes p JOIN occ o ON p.tok = o.tok
        WHERE p.a_id <> o.doc_id
    ), scored AS (
        SELECT c.a_id, c.b_id,
               CAST(len(ta.t) + len(tb.t) - len(list_distinct(list_concat(ta.t, tb.t))) AS DOUBLE)
                   / len(ta.t) AS containment_a,
               CAST(len(ta.t) + len(tb.t) - len(list_distinct(list_concat(ta.t, tb.t))) AS DOUBLE)
                   / len(tb.t) AS containment_b
        FROM cands c
        JOIN toks ta ON ta.doc_id = c.a_id
        JOIN toks tb ON tb.doc_id = c.b_id
    )
    SELECT a_id, b_id, containment_a, containment_b
    FROM scored WHERE containment_a >= 0.9
    """,
)
def dedup_containment_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE prefix-filtered containment search (SSJoin/PPJoin family)
    over 8-token SHINGLE sets: every directional pair where ≥90% of A's
    shingles appear in B, no LSH recall loss — the answer to
    dedup_containment_pairs' banded-recall caveat (shingles, not unigrams:
    unigram containment saturates on shared vocabulary — the r2 minhash
    lesson). The oracle rebuilds the whole algorithm independently (rarity
    sort via list(... ORDER BY df, tok), the epsilon-guarded prefix
    length, the prefix⋈index candidate join, exact verify). Capped to
    doc_id < 300 — like the other portable twins, this is the bit-exact
    differential; the operator itself
    (operators/dedup.py::containment_join) runs uncapped and its
    completeness is pinned against brute force in pytest."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return D.containment_join(d, threshold=0.9, shingle_n=8)


@register(
    "dedup_containment_keeplist",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, {X.sql_token_shingles('text', 8)} AS t
        FROM documents WHERE doc_id < 300
    ), occ AS (
        SELECT doc_id, UNNEST(t) AS tok FROM toks
    ), dfreq AS (
        SELECT tok, COUNT(*) AS df FROM occ GROUP BY tok
    ), ranked AS (
        SELECT doc_id, list(o.tok ORDER BY d.df, o.tok) AS sorted_toks
        FROM occ o JOIN dfreq d ON o.tok = d.tok GROUP BY doc_id
    ), prefix_toks AS (
        SELECT DISTINCT UNNEST(sorted_toks[1 : CAST(len(sorted_toks)
                   - CEIL(len(sorted_toks) * 0.9 - 1e-9) + 1 AS INTEGER)]) AS tok
        FROM ranked
    ), star AS (
        SELECT MIN(o.doc_id) OVER (PARTITION BY o.tok) AS u, o.doc_id AS v
        FROM occ o JOIN prefix_toks p ON o.tok = p.tok
    ), star_edges AS (
        SELECT DISTINCT u AS a_id, v AS b_id FROM star WHERE u <> v
    ), verified AS (
        SELECT a_id, b_id
        FROM star_edges
        JOIN toks ta ON ta.doc_id = a_id
        JOIN toks tb ON tb.doc_id = b_id
        WHERE GREATEST(
            CAST(len(ta.t) + len(tb.t) - len(list_distinct(list_concat(ta.t, tb.t))) AS DOUBLE)
                / len(ta.t),
            CAST(len(ta.t) + len(tb.t) - len(list_distinct(list_concat(ta.t, tb.t))) AS DOUBLE)
                / len(tb.t)
        ) >= 0.9
    ), edges AS (
        SELECT a_id AS u, b_id AS v FROM verified
        UNION
        SELECT b_id AS u, a_id AS v FROM verified
    ), lab AS (
        SELECT doc_id AS id, doc_id AS label FROM toks
        UNION
        SELECT e.v AS id, l.label
        FROM lab l JOIN edges e ON e.u = l.id
        WHERE l.label < e.v
    )
    SELECT id, MIN(label) AS component,
           CAST(id = MIN(label) AS BOOLEAN) AS keep
    FROM lab GROUP BY id
    """,
)
def dedup_containment_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup at PAIR-FREE cost (VERDICT r12 #2): the
    ``emit='keeplist'`` contract applied to the prefix-filtered SSJoin.
    Per prefix-active 8-shingle, STAR edges connect the posting group's
    minimum id to each member (edge mass bounded by prefix-active posting
    mass — linear, however duplicate-heavy the corpus, where the complete
    join's candidate set is O(k²) per k-copy cluster: the r12 100× soak
    pinned that candidate shuffle as the single-host ceiling); only those
    edges are containment-verified (either direction ≥0.9), then
    components → one keep/drop verdict per doc. The oracle rebuilds the
    whole pipeline independently: rarity sort, the epsilon-guarded prefix,
    window-MIN star over prefix-active postings, exact verify with
    GREATEST symmetrization, recursive min-label components. Same bit-exact
    differential cap as dedup_containment_complete (doc_id < 300); the
    operator (operators/dedup.py::containment_keep_list) runs uncapped and
    its refinement contract is pinned in tests/test_components.py."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    verdict = D.containment_keep_list(d, threshold=0.9, shingle_n=8)
    return verdict.orderBy("id").select("id", "component", "keep")


@register("dedup_minhash_pairs")  # Spark xxhash64 — no portable oracle
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline over 8-token SHINGLES (shingle →
    minhash → band → bucket join → exact-shingle-Jaccard verify).
    Deterministic (seeded xxhash64) but the hash is Spark-specific →
    rows-only driver check; pinned against the exact shingled Jaccard
    differential in pytest (test_pipeline_ops.py).

    Round-3 change (r2 verdict #2): round 2 ran this on unigram token sets
    and the corpus's shared vocabulary saturated the bands — 62% of ALL doc
    pairs were candidates and most verified (65.8s at sf0.1: true-pair
    volume, a data property of unigram sets). Shingling is the standard
    MinHash answer: near-dups must share token RUNS, not just vocabulary.
    Measured on this corpus, unigram-jaccard ≥ 0.8 pairs are 23% of all
    pairs; 8-shingle-jaccard ≥ 0.2 pairs are 0.002% — four orders of
    magnitude less verify work, same 8×4 band geometry (collision ≈ 0.985
    at j = 0.8). The unigram spelling survives as the fully-oracled
    portable twin (dedup_minhash_portable) and the exact differential
    (dedup_jaccard_pairs)."""
    d = _t(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(
        d, num_hashes=32, bands=8, threshold=0.8, shingle_n=8
    ).orderBy("a_id", "b_id")


@register("dedup_simhash_pairs")  # Spark xxhash64 — no portable oracle
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (sign-aggregated bit vector, Hamming-
    pigeonhole blocked — complete within the threshold, no prefix-bucket
    misses — Hamming-verified). ``bits=32`` keeps the similarity criterion
    comparable across SFs; at cluster scale pass ``bits=None`` so
    :func:`bits_for_corpus` widens the signature with the corpus and block
    occupancy stays bounded (cost: one count job)."""
    d = _t(spark, sf_dir, "documents")
    return D.simhash_dedup_pairs(d, bits=32, max_hamming=3).orderBy(
        "a_id", "b_id"
    )


# --- similarity search -----------------------------------------------------


@register(
    "embedding_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
        -- ROUND 9dp before ranking (libm-absorbing recipe): exact-copy
        -- neighbors score 1.0±1ulp depending on normalization order, and
        -- the rounding makes the tie + id tiebreak engine-exact
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]), 9)
                   AS cosine_sim
        FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
        ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
)
def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors over the full corpus —
    broadcast queries, partition-parallel scoring, one window shuffle.
    Cosines round to 9dp before ranking in BOTH spellings so duplicate
    vectors tie exactly (and tie-break on id identically) cross-engine."""
    e = _t(spark, sf_dir, "embeddings")
    return S.brute_force_topk(
        e, e.where(F.col("vec_id") < 10), k=5, round_to=9
    )


def _lsh_oracle_sql(dim: int = 64, n_planes: int = 4, n_tables: int = 8, k: int = 5) -> str:
    """DuckDB reproduction of lsh_topk's ENTIRE pipeline: the same seeded
    Gaussian plane weights are embedded as string-cast literals (string→
    double parses are correctly rounded; DuckDB's bare numeric literals
    round-trip through DECIMAL and can be off by an ulp, flipping a
    projection sign), projections use an explicit left-to-right
    list_reduce matching Spark's aggregate fold bit-for-bit, and bucket /
    candidate / scoring / ranking stages mirror the operator exactly."""
    from polars_numba_spark.operators.similarity import _plane_weights

    def dot_sql(w: list[float]) -> str:
        lit = "[" + ",".join(f"'{x!r}'::DOUBLE" for x in w) + "]"
        return (
            f"list_reduce(list_transform(range(1, {len(w) + 1}), "
            f"i -> emb[i] * ({lit})[i]), (a, b) -> a + b)"
        )

    tables = []
    for t in range(n_tables):
        weights = _plane_weights(dim, n_planes, seed=42 + 1000 * t)
        bucket = " + ".join(
            f"(CASE WHEN {dot_sql(weights[p])} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )
        tables.append(
            f"SELECT vec_id, {t} AS tbl, {bucket} AS bucket FROM v"
        )
    buckets_union = "\n      UNION ALL\n      ".join(tables)
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), b AS (
      {buckets_union}
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM b q JOIN b c ON q.tbl = c.tbl AND q.bucket = c.bucket
      WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
    ), scored AS (
      -- ROUND 9dp before ranking: duplicate vectors must tie engine-exact
      SELECT cand.query_id, cand.neighbor_id,
             ROUND(list_cosine_similarity(qv.emb, cv.emb), 9) AS cosine_sim
      FROM cand
      JOIN v qv ON qv.vec_id = cand.query_id
      JOIN v cv ON cv.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
      ) AS rank FROM scored
    ) WHERE rank <= {k}
    """


@register("embedding_topk_lsh", oracle=_lsh_oracle_sql())
def embedding_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (random-hyperplane buckets): the scale
    path — candidate scoring restricted to same-bucket vectors. FULLY
    oracled despite being 'approximate': the approximation is deterministic
    given the seeded planes, so DuckDB reproduces every stage — plane
    projections (bit-exact string-literal weights + left-to-right reduce),
    sign buckets, multi-table candidate union, cosine ranking (9dp-rounded
    so duplicate vectors tie engine-exact)."""
    e = _t(spark, sf_dir, "embeddings")
    return S.lsh_topk(
        e, e.where(F.col("vec_id") < 10), dim=64, k=5, round_to=9
    )


@register(
    "embedding_near_dup_pairs",
    oracle="""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 1000 AND b.vec_id < 1000
      AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.2
    """,
)
def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup: all-pairs cosine ≥ threshold. The oracle-checked
    variant is all-pairs and therefore deliberately CAPPED to a fixed slice
    (vec_id < 1000 — the whole table at the correctness SF): it exists as a
    bit-exact differential, not a scale demo. The production path is the
    occupancy-bounded bucketed operator, whose quality is itself
    driver-visible via embedding_near_dup_recall."""
    return _exact_pairs_capped(spark, sf_dir, cap=1000, threshold=0.2)


def _exact_pairs_capped(
    spark: SparkSession, sf_dir: str, cap: int, threshold: float
) -> DataFrame:
    """All-pairs cosine over a bounded ``vec_id < cap`` slice — the exact
    ground truth used by both the oracle differential (cap=1000, matching
    the SQL) and the recall probe (smaller cap: the truth set is O(cap²)
    and the probe only needs a statistical sample, VERDICT r3 perf note)."""
    e = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < cap)
        .select("vec_id", S.as_double("embedding").alias("v"))
        .withColumn("nv", S.norm(F.col("v")))
    )
    a = e.alias("a")
    b = e.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("a_id"),
        F.col("b.vec_id").alias("b_id"),
        F.col("a.v").alias("av"),
        F.col("b.v").alias("bv"),
        F.col("a.nv").alias("an"),
        F.col("b.nv").alias("bn"),
    )
    return S._pair_cosine(pairs, "av", "bv", "an", "bn").where(
        F.col("cosine_sim") >= threshold
    )


# --- multimodal ------------------------------------------------------------


@register(
    "multimodal_features",
    oracle="""
    SELECT doc_id,
           'application/octet-stream' AS mime,
           -- encode(), not ::BLOB: the cast errors on non-ASCII text
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(64 + (octet_length(encode(text)) % 577) AS INTEGER) AS width,
           CAST(64 + ((octet_length(encode(text)) * 7) % 421) AS INTEGER)
               AS height,
           substr(md5(text), 1, 16) AS phash
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary payload + struct metadata →
    Arrow-batched mapInPandas feature extraction (deterministic codec stub).
    The oracle replicates the stub arithmetic in SQL, proving the batch
    shape, schema contract, and payload round-trip byte-exactly."""
    d = _t(spark, sf_dir, "documents")
    return M.extract_features(M.attach_payload(d))


@register(
    "multimodal_image_dims",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/png'
                           WHEN 1 THEN 'image/jpeg'
                           ELSE 'image/gif' END AS mime,
           CAST(16 + doc_id % 317 AS INTEGER) AS width,
           CAST(16 + (doc_id * 3) % 211 AS INTEGER) AS height,
           CAST(CASE doc_id % 3 WHEN 0 THEN 29 WHEN 1 THEN 12 ELSE 10 END
                AS INTEGER) AS n_bytes
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-header decoding through the hard gate: minimal-but-genuine
    PNG/JPEG/GIF containers are synthesized in-plan (magic bytes + correctly
    placed big/little-endian dimension fields), then the Arrow-batched
    header parser must recover mime/width/height FROM THE BYTES — the oracle
    computes the embedded values independently, so a parser that misreads an
    offset or endianness hash-mismatches. (Full raster decode needs a media
    library absent here; header parsing is the honest, scale-appropriate
    core — see operators/multimodal.py.)"""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    fmt = F.element_at(
        F.array(F.lit("png"), F.lit("jpeg"), F.lit("gif")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    with_payload = d.select(
        "doc_id",
        M.synthesize_image_payload(
            fmt,
            (16 + F.col("doc_id") % 317).cast("long"),
            (16 + (F.col("doc_id") * 3) % 211).cast("long"),
        ).alias("payload"),
    )
    return M.extract_image_dims(with_payload)


# Winnowing fingerprint CTE, single-sourced into the fingerprints face
# and the overlap-pairs face (one spelling of the k-gram hash table,
# window minima, and fingerprint set).
_WINNOW_FP_CTE = f"""
    WITH s AS (
        SELECT doc_id,
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS s
        FROM documents WHERE doc_id < 500
    ), h AS (
        SELECT doc_id,
               greatest(length(s) - 7, 0) AS n_grams,
               list_transform(range(1, greatest(length(s) - 7, 0) + 1),
                              i -> {_MD5INT_SQL.format(x='substr(s, i, 8)')}) AS H
        FROM s
    ), fp AS (
        SELECT doc_id, n_grams,
               list_distinct(list_transform(
                   range(1, greatest(length(H) - 3, 0) + 1),
                   i -> list_min(H[i:i+3]))) AS fps
        FROM h
    )"""


@register(
    "doc_winnowing_fingerprints",
    oracle=f"""{_WINNOW_FP_CTE}
    SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
           CAST(length(fps) AS INTEGER) AS n_fingerprints,
           CASE WHEN length(fps) > 0 THEN md5(list_aggregate(
               list_transform(list_sort(fps), x -> CAST(x AS VARCHAR)),
               'string_agg', ',')) END AS fp_checksum
    FROM fp
    """,
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting through the hard gate:
    winnowing (Schleimer et al. 2003) over character 8-grams with a
    4-hash window, md5-portable so DuckDB rebuilds the identical k-gram
    hash table, window minima, and fingerprint set; the checksum is md5
    over the sorted fingerprint list, so one wrong window minimum anywhere
    in any document hash-mismatches. Pure codegen — no shuffle, no UDF
    (operators/text.py::winnowing_fingerprints)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    fp = X.winnowing_fingerprints(d, k=8, w=4, portable=True)
    return fp.select(
        F.col("id").alias("doc_id"),
        F.col("n_grams").cast("int").alias("n_grams"),
        F.size("fingerprints").alias("n_fingerprints"),
        F.when(
            F.size("fingerprints") > 0,
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort("fingerprints"),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ),
        ).alias("fp_checksum"),
    )


@register(
    "multimodal_audio_meta",
    oracle="""
    SELECT doc_id,
           'audio/wav' AS mime,
           CAST(8000 + (doc_id % 11) * 800 AS INTEGER) AS sample_rate,
           CAST(doc_id % 2 + 1 AS INTEGER) AS n_channels,
           CAST(16 AS INTEGER) AS bits_per_sample,
           CAST(((400 + (doc_id * 7) % 600) * 1000)
                // (8000 + (doc_id % 11) * 800) AS BIGINT) AS duration_ms,
           CAST(44 + (400 + (doc_id * 7) % 600) * (doc_id % 2 + 1) * 2
                AS INTEGER) AS n_bytes
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-container decoding through the hard gate — the WAV analog
    of multimodal_image_dims: minimal-but-genuine RIFF/WAVE files are
    synthesized in-plan (canonical header, little-endian fmt fields, PCM
    frames), then the chunk-walking parser must recover sample rate /
    channels / bit depth / duration FROM THE BYTES — the oracle computes
    the embedded values independently, so a parser that misreads an offset,
    endianness, or the frame-size arithmetic hash-mismatches. (Codec
    decode would need an audio library absent here; header parsing is the
    honest, scale-appropriate core — corpus-wide audio stats must not
    decode the PCM. See operators/multimodal.py.)"""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    with_payload = d.select(
        "doc_id",
        M.synthesize_wav_payload(
            (F.lit(8000) + (F.col("doc_id") % 11) * 800).cast("int"),
            (F.col("doc_id") % 2 + 1).cast("int"),
            (F.lit(400) + (F.col("doc_id") * 7) % 600).cast("int"),
        ).alias("payload"),
    )
    return M.extract_audio_meta(with_payload)


@register(
    "curated_corpus",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {X.SQL_FINGERPRINT.format(c='text')} AS fp,
               {X.sql_quality('text')} AS quality
        FROM documents
    ), ranked AS (
        SELECT doc_id, lang, quality,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM scored WHERE quality >= 0.5
    )
    SELECT doc_id, lang, quality FROM ranked WHERE rn = 1
    """,
)
def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline in one plan: quality-score filter →
    fingerprint near-dup dedup (keep lowest id per bucket) → curated doc
    list. Composes three oracled operators; one scan, two shuffles
    (fingerprint window + nothing else — the filter rides the scan)."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        X.fingerprint("text").alias("fp"),
        X.quality_score("text").alias("quality"),
    ).where(F.col("quality") >= 0.5)
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "quality")
    )


@register(
    "curated_corpus_neardup",
    oracle=f"""
    WITH RECURSIVE scored AS (
        SELECT doc_id, lang, {{quality}} AS quality,
               list_sort(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
        FROM documents WHERE doc_id < 1000
    ), toks AS (
        SELECT doc_id, t FROM scored WHERE quality >= 0.5
    ), sigs AS (
        SELECT doc_id, t, [ {_CLUSTER_SIG} ] AS sig FROM toks
    ), banded AS (
        {_CLUSTER_BANDS}
    ), star AS (
        SELECT MIN(doc_id) OVER (PARTITION BY band_idx, band_hash) AS u,
               doc_id AS v
        FROM banded
    ), star_edges AS (
        SELECT DISTINCT u AS a_id, v AS b_id FROM star WHERE u <> v
    ), verified AS (
        SELECT a_id, b_id
        FROM star_edges
        JOIN toks ta ON ta.doc_id = a_id
        JOIN toks tb ON tb.doc_id = b_id
        WHERE CAST(length(ta.t) + length(tb.t)
                   - length(list_distinct(list_concat(ta.t, tb.t))) AS DOUBLE)
              / length(list_distinct(list_concat(ta.t, tb.t))) >= 0.9
    ), edges AS (
        SELECT a_id AS u, b_id AS v FROM verified
        UNION
        SELECT b_id AS u, a_id AS v FROM verified
    ), lab AS (
        SELECT doc_id AS id, doc_id AS label FROM toks
        UNION
        SELECT e.v AS id, l.label
        FROM lab l JOIN edges e ON e.u = l.id
        WHERE l.label < e.v
    ), comp AS (
        SELECT id, MIN(label) AS component FROM lab GROUP BY id
    ), sizes AS (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM comp GROUP BY component
    )
    SELECT c.id AS doc_id, s.lang, s.quality, z.n_members
    FROM comp c
    JOIN sizes z USING (component)
    JOIN scored s ON s.doc_id = c.id
    WHERE c.id = c.component
    """.replace("{quality}", X.sql_quality("text")),
)
def curated_corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline with a PAIR-FREE near-dup stage
    (r7 verdict next-round #5): quality-score filter → minhash keep-list
    (banded candidates → star edges to each bucket minimum → exact-Jaccard
    verify of ONLY those O(rows) edges → connected components) → one kept
    representative per near-dup cluster, annotated with its cluster size.
    Unlike :func:`curated_corpus`'s exact-fingerprint window, the near-dup
    stage here catches non-identical duplicates — at keep-list cost: no
    pair set is ever materialized (plan pinned in
    tests/test_plans.py::test_curated_neardup_no_pair_materialization),
    so output and intermediate mass stay linear in the corpus however
    duplicate-heavy it is. The DuckDB oracle recomputes the whole pipeline
    independently: quality gate, md5 band table, window-MIN star, Jaccard
    verify, recursive min-label closure, cluster sizes."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    scored = d.select(
        "doc_id", "lang", "text", X.quality_score("text").alias("quality")
    ).where(F.col("quality") >= 0.5)
    from polars_numba_spark.plans.checkpoint import checkpoint

    # verdict feeds both the cluster-size aggregate and the keep filter;
    # without materialization each side rescans documents and re-joins the
    # components checkpoint. One row per doc — tiny.
    verdict = checkpoint(
        D.minhash_dedup_pairs(
            scored, num_hashes=32, bands=8, threshold=0.9, portable=True,
            emit="keeplist",
        )
    )
    sizes = verdict.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    kept = verdict.where(F.col("keep")).join(sizes, "component")
    # join back for lang/quality: quality is a pure function of text, so
    # re-deriving it on the join's scan side costs one projection, not a
    # second curation pass
    return (
        kept.select(F.col("id").alias("doc_id"), "n_members")
        .join(scored.select("doc_id", "lang", "quality"), "doc_id")
        .select("doc_id", "lang", "quality", "n_members")
        .orderBy("doc_id")
    )


@register(
    "decontamination_overlap",
    oracle=f"""
    WITH eg AS (
        SELECT DISTINCT UNNEST({X.sql_token_shingles('text', 4)}) AS g
        FROM documents WHERE doc_id < 20
    ), tg AS (
        SELECT doc_id, UNNEST({X.sql_token_shingles('text', 4)}) AS g
        FROM documents WHERE doc_id >= 20
    )
    SELECT tg.doc_id, COUNT(*) AS n_shared_ngrams
    FROM tg JOIN eg ON tg.g = eg.g
    GROUP BY tg.doc_id
    """,
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which training documents share n-gram
    token shingles with the held-out eval set (doc_id < 20 stands in for
    the benchmark)? n=4 here — real pipelines use 8-13-gram windows, but
    these short synthetic docs share almost no 8-grams (1 hit), while
    4-grams give a meaningful overlap set (36 docs); the operator's
    default stays 8. The standard pre-training hygiene pass — explode
    distinct shingles on both sides, equi-join on the shingle, count per
    train doc. At corpus scale the eval side is tiny and broadcast; the
    train side never self-joins, so cost is linear in corpus shingles.
    Oracle reproduces the shingling + join independently in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    eval_grams = (
        d.where(F.col("doc_id") < 20)
        .select(F.explode(X.token_shingles("text", 4)).alias("g"))
        .dropDuplicates(["g"])
    )
    train_grams = d.where(F.col("doc_id") >= 20).select(
        "doc_id", F.explode(X.token_shingles("text", 4)).alias("g")
    )
    return (
        train_grams.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
        FROM documents WHERE doc_id < 1000
    ), sigs AS (
        SELECT doc_id, t, [ {_CLUSTER_SIG} ] AS sig FROM toks
    ), banded AS (
        {_CLUSTER_BANDS}
    ), cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.t AS ta, b.t AS tb
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ), pairs AS (
        SELECT a_id, b_id FROM cands
        WHERE CAST(length(ta) + length(tb) - length(list_distinct(list_concat(ta, tb))) AS DOUBLE)
              / length(list_distinct(list_concat(ta, tb))) >= 0.9
    ), edges AS (
        SELECT a_id AS u, b_id AS v FROM pairs
        UNION
        SELECT b_id AS u, a_id AS v FROM pairs
    ), lab AS (
        SELECT doc_id AS id, doc_id AS label FROM toks
        UNION
        SELECT e.v AS id, l.label
        FROM lab l JOIN edges e ON e.u = l.id
        WHERE l.label < e.v
    )
    SELECT id, MIN(label) AS component,
           CAST(id = MIN(label) AS BOOLEAN) AS keep
    FROM lab GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end: MinHash-LSH pairs → connected
    components → keep/drop verdict per doc — FULLY ORACLED. The pairs use
    the portable md5 minhash (bit-identical in DuckDB), and the iterative
    min-label propagation is reproduced as a recursive CTE: labels
    propagate along edges until fixpoint (pruned to labels smaller than
    the receiving node, whose transitive closure is exactly min-reachable-
    id = the component). 'Iterative, therefore rows-only' was round-1's
    assumption — recursion to fixpoint is SQL-expressible; what stays
    un-oracleable is only the xxhash production variant's hash itself.
    Capped to a fixed slice (the whole table at the correctness SF): each
    propagation round is a full join+groupBy at any scale."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    pairs = D.minhash_dedup_pairs(
        d, num_hashes=32, bands=8, threshold=0.9, portable=True
    )
    verdict = D.dedup_keep_list(d, pairs)
    return verdict.orderBy("id").select("id", "component", "keep")


@register(
    "dedup_minhash_keeplist",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
        FROM documents WHERE doc_id < 1000
    ), sigs AS (
        SELECT doc_id, t, [ {_CLUSTER_SIG} ] AS sig FROM toks
    ), banded AS (
        {_CLUSTER_BANDS}
    ), star AS (
        SELECT MIN(doc_id) OVER (PARTITION BY band_idx, band_hash) AS u,
               doc_id AS v
        FROM banded
    ), star_edges AS (
        SELECT DISTINCT u AS a_id, v AS b_id FROM star WHERE u <> v
    ), verified AS (
        SELECT a_id, b_id
        FROM star_edges
        JOIN toks ta ON ta.doc_id = a_id
        JOIN toks tb ON tb.doc_id = b_id
        WHERE CAST(length(ta.t) + length(tb.t)
                   - length(list_distinct(list_concat(ta.t, tb.t))) AS DOUBLE)
              / length(list_distinct(list_concat(ta.t, tb.t))) >= 0.9
    ), edges AS (
        SELECT a_id AS u, b_id AS v FROM verified
        UNION
        SELECT b_id AS u, a_id AS v FROM verified
    ), lab AS (
        SELECT doc_id AS id, doc_id AS label FROM toks
        UNION
        SELECT e.v AS id, l.label
        FROM lab l JOIN edges e ON e.u = l.id
        WHERE l.label < e.v
    )
    SELECT id, MIN(label) AS component,
           CAST(id = MIN(label) AS BOOLEAN) AS keep
    FROM lab GROUP BY id
    """,
)
def dedup_minhash_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PAIR-FREE keep-list face (r6 verdict next-round #3):
    ``minhash_dedup_pairs(emit='keeplist')`` — banded candidates → STAR
    edges to each band-bucket's minimum id (O(rows) edge mass, vs the
    O(N²) pair set a duplicate-heavy corpus implies) → exact-Jaccard
    verification of ONLY those edges → connected components → one
    keep/drop verdict per document. The DuckDB oracle reproduces the star
    construction with a window MIN over the identical md5 band table, the
    same ≥0.9 verify, and recursive min-label propagation — so the hash
    gate pins both the linear-mass emission contract and its documented
    refinement semantics (components refine the pair-graph components;
    see operators/dedup.py::minhash_dedup_keep_list)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    verdict = D.minhash_dedup_pairs(
        d, num_hashes=32, bands=8, threshold=0.9, portable=True,
        emit="keeplist",
    )
    return verdict.orderBy("id").select("id", "component", "keep")


@register(
    "dedup_simhash_keeplist",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS t
        FROM documents WHERE doc_id < 150
    ), hashed AS (
        -- tokenless docs (NULL/whitespace-only text) are excluded from the
        -- block table and trivially kept, matching simhash_dedup_keep_list
        SELECT doc_id, UNNEST(list_transform(t, tok -> {_MD5INT_SQL.format(x='tok')})) AS h
        FROM toks
        WHERE COALESCE(len(list_filter(t, tok -> tok <> '')), 0) > 0
    ), contribs AS (
        SELECT doc_id, i.i AS i,
               SUM(CASE WHEN ((h >> i.i) & 1) = 1 THEN 1 ELSE -1 END) AS contrib
        FROM hashed, (SELECT UNNEST(range(16)) AS i) i
        GROUP BY doc_id, i.i
    ), sigs AS (
        SELECT doc_id,
               SUM(CASE WHEN contrib > 0 THEN CAST(1 << i AS BIGINT) ELSE 0 END) AS sig
        FROM contribs GROUP BY doc_id
    ), blocks AS (
        SELECT doc_id, sig, b.bi AS bi,
               CASE b.bi WHEN 0 THEN (sig >> 0) & 63
                         WHEN 1 THEN (sig >> 6) & 31
                         ELSE (sig >> 11) & 31 END AS bv
        FROM sigs, (SELECT UNNEST(range(3)) AS bi) b
    ), star AS (
        SELECT MIN(doc_id) OVER w AS u, arg_min(sig, doc_id) OVER w AS usig,
               doc_id AS v, sig AS vsig
        FROM blocks WINDOW w AS (PARTITION BY bi, bv)
    ), verified AS (
        SELECT DISTINCT u AS a_id, v AS b_id FROM star
        WHERE u <> v AND bit_count(xor(usig, vsig)) <= 2
    ), edges AS (
        SELECT a_id AS u, b_id AS v FROM verified
        UNION
        SELECT b_id AS u, a_id AS v FROM verified
    ), lab AS (
        SELECT doc_id AS id, doc_id AS label FROM toks
        UNION
        SELECT e.v AS id, l.label
        FROM lab l JOIN edges e ON e.u = l.id
        WHERE l.label < e.v
    )
    SELECT id, MIN(label) AS component,
           CAST(id = MIN(label) AS BOOLEAN) AS keep
    FROM lab GROUP BY id
    """,
)
def dedup_simhash_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash's pair-free keep-list face: pigeonhole blocks (16 bits →
    widths 6/5/5 for max_hamming=2) → star edges to each block-bucket's
    minimum, Hamming-verified IN the same window pass (the bucket-min's
    signature rides along as arg_min, no join back) → components → one
    verdict per doc. Same md5 signature recipe as dedup_simhash_portable,
    so DuckDB reproduces signatures bit-exactly, then the star + verify +
    recursive min-label stages — the hash gate covers the whole
    emit='keeplist' path (operators/dedup.py::simhash_dedup_keep_list)."""
    from polars_numba_spark.operators.dedup import simhash_dedup_keep_list

    def md5_hash(tok):
        return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    verdict = simhash_dedup_keep_list(
        d, bits=16, max_hamming=2, hash_fn=md5_hash
    )
    return verdict.orderBy("id").select("id", "component", "keep")


@register("embedding_near_dup_recall")  # self-evaluating — approximate vs exact
def embedding_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the scalable (multi-table, occupancy-bounded) LSH near-dup
    operator against the exact all-pairs truth at cosine ≥ 0.4, computed
    in-plan — the measured quality number for the operator whose bucket
    count grows with the corpus. Params are tuned for this corpus's weak
    similarity structure (uniform-ish vectors, max pair cosine 0.51; real
    near-dup corpora sit at ≥0.9 where per-plane agreement ≈ 0.9 and the
    production defaults reach recall ≈ 0.99 — see
    operators/similarity.py::embedding_near_dup_pairs). The truth set is
    all-pairs and therefore O(cap²): the probe uses a 500-id slice — a
    statistical sample four times cheaper than the r3 full-differential
    slice (VERDICT r3: 44.5s driver / 11.5s floor, 'consider shrinking the
    ground-truth slice') — while the bit-exact oracle differential keeps
    its full cap=1000."""
    cap = 500
    e = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < cap)
    from polars_numba_spark.plans.checkpoint import checkpoint

    # exact feeds the semi-join AND the truth count; materialize the
    # all-pairs truth once (pair ids only) instead of re-scoring cap^2
    # cosines per consumer.
    exact = checkpoint(
        _exact_pairs_capped(spark, sf_dir, cap=cap, threshold=0.4).select(
            "a_id", "b_id"
        )
    )
    approx = S.embedding_near_dup_pairs(
        e, threshold=0.4, dim=64, n_planes=3, n_tables=16
    ).select(F.col("a_id").alias("xa"), F.col("b_id").alias("xb"))
    hits = exact.join(
        approx, (exact.a_id == approx.xa) & (exact.b_id == approx.xb), "left_semi"
    )
    return exact.agg(F.count(F.lit(1)).alias("n_exact")).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("n_hits"))
    ).select(
        "n_exact",
        "n_hits",
        # no true pairs (degenerate slice) -> recall undefined: NULL, not
        # an ANSI divide-by-zero
        F.when(
            F.col("n_exact") > 0, F.col("n_hits") / F.col("n_exact")
        ).alias("recall"),
    )


@register(
    "label_centroids",
    oracle="""
    WITH dims AS (
        SELECT label, d.i - 1 AS dim, d.x
        FROM embeddings,
             LATERAL (SELECT UNNEST(embedding::DOUBLE[]) AS x,
                             generate_subscripts(embedding, 1) AS i) d
    ), per_dim AS (
        SELECT label, dim,
               ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 9) AS mean
        FROM dims GROUP BY label, dim
    )
    SELECT p.label, CAST(p.dim AS INTEGER) AS dim, p.mean,
           (SELECT COUNT(*) FROM embeddings e WHERE e.label = p.label) AS n_members
    FROM per_dim p
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the IVF centroid-training step) with
    decimal-exact per-dimension accumulation — bit-identical across engines
    and partitionings. Emitted as exploded (label, dim, mean, n_members)
    scalar rows: array-typed result columns are banned in oracled queries
    (they crash pandas-based row canonicalization — catalog.py conventions).
    """
    from polars_numba_spark.operators.vector import group_centroid_dims

    e = _t(spark, sf_dir, "embeddings")
    return group_centroid_dims(e, "embedding", "label").select(
        "label", F.col("dim").cast("int").alias("dim"), "mean", "n_members"
    )


# Two unrolled Lloyd iterations (deterministic first-k-ids seeding) as
# DuckDB CTEs ending in `a2 (vec_id, assigned)` — shared by the
# kmeans_assignments oracle and the semantic_dedup / triplet oracles
# (round 5/11), so the clustering recipe exists in exactly ONE SQL
# spelling. ``k_sql`` is the cluster count: a literal ("8") or the
# self-scaling scalar subquery ``_K_SELF_SCALED`` that mirrors
# vector.k_for_corpus — the r10 verdict's fix for faces that pinned k=8
# and let |cluster| (hence the within-cluster pair stage) grow linearly
# with the corpus.
def _kmeans2_ctes(k_sql: str = "8") -> str:
    return (
        """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), seeds AS (
      -- mirror kmeans_iterations' seeding exactly: first k vectors by id,
      -- relabeled 0..k-1 (id-agnostic; no contiguity assumption)
      SELECT label, cent FROM (
        SELECT emb AS cent, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS label
        FROM v
      ) WHERE label < ("""
        + k_sql
        + """)
    ), a1 AS (
      SELECT vec_id, label FROM (
        SELECT v.vec_id, s.label,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.emb, s.cent) DESC, s.label) AS rn
        FROM v, seeds s
      ) WHERE rn = 1
    ), dims1 AS (
      SELECT a1.label, d.i - 1 AS dim, d.x
      FROM a1 JOIN v USING (vec_id),
           LATERAL (SELECT UNNEST(v.emb) AS x, generate_subscripts(v.emb, 1) AS i) d
    ), cent1 AS (
      SELECT label, list(mean ORDER BY dim) AS cent FROM (
        SELECT label, dim,
               ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 9) AS mean
        FROM dims1 GROUP BY label, dim
      ) GROUP BY label
    ), a2 AS (
      SELECT vec_id, label AS assigned FROM (
        SELECT v.vec_id, c.label,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.emb, c.cent) DESC, c.label) AS rn
        FROM v, cent1 c
      ) WHERE rn = 1
    )
"""
    )


from polars_numba_spark.operators.vector import K_FOR_CORPUS_SQL  # noqa: E402

_KMEANS2_CTES = _kmeans2_ctes()
# the self-scaling k: GREATEST(8, CEIL(SQRT(n))) over the SAME corpus the
# CTE clusters — the SQL twin of vector.k_for_corpus(df.count())
_K_SELF_SCALED = f"SELECT {K_FOR_CORPUS_SQL} FROM v"


@register(
    "kmeans_assignments",
    oracle=_KMEANS2_CTES + "\n    SELECT vec_id, assigned FROM a2",
)
def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (k=8, deterministic seeding) over the
    embeddings — the iterative-algorithm surface, now with a FULL oracle:
    the two iterations unroll into plain SQL (seed on the first k ids →
    argmax-cosine assignment → decimal-exact centroid means → second
    assignment), every stage bit-exact cross-engine (cosine ==
    list_cosine_similarity, centroid recipe == label_centroids). Iterative
    ≠ un-oracleable when the iteration count is a constant."""
    from polars_numba_spark.operators.vector import kmeans_iterations

    e = _t(spark, sf_dir, "embeddings")
    assignments, _ = kmeans_iterations(e, k=8, iterations=2)
    return assignments.orderBy("vec_id").select("vec_id", "assigned")


@register(
    "semantic_dedup_pairs",
    oracle=_kmeans2_ctes(_K_SELF_SCALED)
    + """
    , pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(a.assigned AS INTEGER) AS cluster
      FROM a2 a JOIN a2 b
        ON a.assigned = b.assigned AND a.vec_id < b.vec_id
    )
    SELECT p.a_id, p.b_id, p.cluster,
           ROUND(list_cosine_similarity(va.emb, vb.emb), 9) AS cosine_sim
    FROM pairs p
    JOIN v va ON va.vec_id = p.a_id
    JOIN v vb ON vb.vec_id = p.b_id
    WHERE ROUND(list_cosine_similarity(va.emb, vb.emb), 9) >= 0.3
    """,
)
def semantic_dedup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end-to-end with a FULL oracle: k-means
    clusters (2 unrolled Lloyd iterations via the shared ``_kmeans2_ctes``
    recipe — the centroid-mean stage inside it is the same decimal-exact
    spelling label_centroids gates) bound the pairwise stage to
    within-cluster, then cosine ≥ 0.3 pairs survive. The published
    algorithm's exact shape: clusters exist to bound the quadratic, so k
    SELF-SCALES with the corpus (``k=None`` → ``k_for_corpus`` =
    ceil(√n), mirrored in SQL by ``_K_SELF_SCALED`` — the r10 verdict's
    fix: the face previously pinned k=8, letting |cluster| and the
    within-cluster join grow linearly/quadratically with the corpus)
    (operators/vector.py:semantic_dedup_pairs)."""
    from polars_numba_spark.operators.vector import semantic_dedup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(
        e, k=None, iterations=2, threshold=0.3, round_to=9
    ).select(
        "a_id", "b_id", F.col("cluster").cast("int").alias("cluster"), "cosine_sim"
    )


@register(
    "semantic_dedup_keeplist",
    oracle=_kmeans2_ctes(_K_SELF_SCALED)
    + """
    , dropped AS (
      SELECT DISTINCT b.vec_id
      FROM a2 a JOIN a2 b ON a.assigned = b.assigned AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
      WHERE ROUND(list_cosine_similarity(va.emb, vb.emb), 9) >= 0.3
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
)
def semantic_dedup_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's KEEP POLICY gated end to end: every vector with a
    lower-id near-duplicate in its cluster is dropped, the survivors come
    back — the full pipeline (cluster → within-cluster pairs → keep) in
    one oracled query (operators/vector.py::semantic_dedup_keep; the
    DuckDB side rebuilds the drop set through the shared k-means CTE).
    k self-scales with the corpus (``k=None`` → ceil(√n), mirrored by
    ``_K_SELF_SCALED``) — see semantic_dedup_pairs."""
    from polars_numba_spark.operators.vector import (
        semantic_dedup_keep,
        semantic_dedup_pairs,
    )

    e = _t(spark, sf_dir, "embeddings")
    pairs = semantic_dedup_pairs(e, k=None, iterations=2, threshold=0.3, round_to=9)
    return semantic_dedup_keep(e, pairs).select("vec_id", "label")


@register("embedding_ivf_recall")  # approximate + iterative — self-evaluating
def embedding_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index end-to-end: k-means cells (2 Lloyd iterations) → nprobe=3
    probed search for 10 queries → recall@5 vs brute force computed in-plan.
    The full approximate-nearest-neighbor stack, self-reporting quality."""
    from polars_numba_spark.operators.vector import ivf_topk, kmeans_iterations

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    _, cents = kmeans_iterations(e, k=8, iterations=2)
    approx = ivf_topk(e, q, cents, k=5, nprobe=3).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    from polars_numba_spark.plans.checkpoint import checkpoint

    # exact feeds the semi-join AND the truth count; one brute-force pass.
    exact = checkpoint(
        S.brute_force_topk(e, q, k=5).select("query_id", "neighbor_id")
    )
    hits = exact.join(
        approx, (exact.query_id == approx.aq) & (exact.neighbor_id == approx.an), "left_semi"
    )
    return exact.agg(F.count(F.lit(1)).alias("n_exact")).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("n_hits"))
    ).select(
        "n_exact",
        "n_hits",
        # empty corpus -> no truth set -> recall undefined: NULL, not an
        # ANSI divide-by-zero (the near_dup_recall guard convention)
        F.when(
            F.col("n_exact") > 0, F.col("n_hits") / F.col("n_exact")
        ).alias("recall_at_5"),
    )


@register("embedding_int8_recall")  # self-evaluating — quantized vs exact
def embedding_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization end-to-end: per-dimension symmetric scales (one
    aggregate pass) → array<tinyint> codes (4× smaller — the form a
    100 TB embedding corpus is actually stored and shipped in) →
    dequantized brute-force top-5 for 10 queries → recall@5 and mean
    |cosine error| vs full precision, computed in-plan. Self-reporting
    like the IVF/LSH recall queries: the quality of an approximation is
    itself the result."""
    from polars_numba_spark.operators.vector import (
        dequantize_int8,
        int8_scales,
        quantize_int8,
    )

    e = _t(spark, sf_dir, "embeddings")
    scales = int8_scales(e)
    dq = dequantize_int8(quantize_int8(e, scales), scales).select(
        "vec_id", F.col("embedding_dq").alias("embedding")
    )
    q = dq.where(F.col("vec_id") < 10)
    approx = S.brute_force_topk(dq, q, k=5).select(
        F.col("query_id").alias("aq"),
        F.col("neighbor_id").alias("an"),
        F.col("cosine_sim").alias("approx_sim"),
    )
    # NOT checkpointed (r14, measured): exact feeds two consumers, but the
    # replayed brute-force pass is light here (10 queries, no quantize leg)
    # and two interleaved A/B rounds read CPU +10% with the checkpoint
    # (7.5/7.5 -> 8.8/8.2 cpu-s) and wall inside noise — the fixed
    # checkpoint overhead exceeds what the dedup saves at this face's mass
    # (contrast embedding_pq_recall, where the same pattern won 14% CPU).
    exact = S.brute_force_topk(e, e.where(F.col("vec_id") < 10), k=5)
    hits = exact.join(
        approx,
        (exact.query_id == approx.aq) & (exact.neighbor_id == approx.an),
        "inner",
    )
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(
            hits.agg(
                F.count(F.lit(1)).alias("n_hits"),
                F.avg(F.abs(F.col("cosine_sim") - F.col("approx_sim"))).alias(
                    "mean_abs_cos_err"
                ),
            )
        )
        .select(
            "n_exact",
            "n_hits",
            # empty corpus -> recall undefined: NULL (near_dup_recall guard)
            F.when(
                F.col("n_exact") > 0, F.col("n_hits") / F.col("n_exact")
            ).alias("recall_at_5"),
            "mean_abs_cos_err",
        )
    )


_PORTABLE16_SIG, _PORTABLE16_BANDS = _minhash_band_sql(16, 4)


@register(
    "dedup_minhash_portable",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
        FROM documents WHERE doc_id < 200
    ), sigs AS (
        SELECT doc_id, t, [ {_PORTABLE16_SIG} ] AS sig FROM toks
    ), banded AS (
        {_PORTABLE16_BANDS}
    ), cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.t AS ta, b.t AS tb
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id,
           CAST(length(ta) + length(tb) - length(list_distinct(list_concat(ta, tb))) AS DOUBLE)
           / length(list_distinct(list_concat(ta, tb))) AS jaccard
    FROM cands
    WHERE CAST(length(ta) + length(tb) - length(list_distinct(list_concat(ta, tb))) AS DOUBLE)
          / length(list_distinct(list_concat(ta, tb))) >= 0.8
    """,
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENTIRE MinHash-LSH pipeline cross-engine verified: md5-derived
    min-hashes (16 hashes, 4 bands of 4) → band-bucket candidate join →
    exact-Jaccard verification — every stage reproduced independently in
    DuckDB. The xxhash64 variant (dedup_minhash_pairs) is the production
    path (~3× cheaper hashes); this one proves the algorithm end to end.
    Spark side and oracle both come from ONE source each: the operator's
    ``portable=True`` path and the ``_minhash_band_sql`` generator — no
    hand-rolled third spelling to drift."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    cands = D.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, portable=True
    ).select(F.col("a_id"), F.col("b_id"))
    return D.jaccard_pairs(d, cands, prune_threshold=0.8).where(
        F.col("jaccard") >= 0.8
    )


@register(
    "dedup_incremental_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
        FROM documents WHERE doc_id < 300
    ), sigs AS (
        SELECT doc_id, t, [ {_PORTABLE16_SIG} ] AS sig FROM toks
    ), banded AS (
        {_PORTABLE16_BANDS}
    ), cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.t AS ta, b.t AS tb
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id >= 60 AND b.doc_id < 60
    )
    SELECT a_id, b_id,
           CAST(length(ta) + length(tb) - length(list_distinct(list_concat(ta, tb))) AS DOUBLE)
           / length(list_distinct(list_concat(ta, tb))) AS jaccard
    FROM cands
    WHERE CAST(length(ta) + length(tb) - length(list_distinct(list_concat(ta, tb))) AS DOUBLE)
          / length(list_distinct(list_concat(ta, tb))) >= 0.8
    """,
)
def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup: a new ingest batch (doc_id < 60)
    checked against the existing corpus (60 ≤ doc_id < 300) — the
    delta-ingest shape. The new batch's band table is broadcast against
    the corpus's bands (minhash_lsh_candidates_delta): no corpus×corpus
    self-join, which is what makes per-ingest dedup affordable at 100 TB
    (the corpus signature table would be persisted between ingests; the
    join shape is what this query pins). Same md5 minhash + exact-Jaccard
    verify as dedup_minhash_portable, reproduced stage by stage in
    DuckDB."""
    d = _t(spark, sf_dir, "documents")
    corpus = d.where((F.col("doc_id") >= 60) & (F.col("doc_id") < 300))
    new = d.where(F.col("doc_id") < 60)
    cands = D.minhash_lsh_candidates_delta(
        corpus, new, num_hashes=16, bands=4, portable=True
    )
    d_all = d.where(F.col("doc_id") < 300)
    return D.jaccard_pairs(d_all, cands, prune_threshold=0.8).where(
        F.col("jaccard") >= 0.8
    )


@register(
    "dedup_simhash_portable",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
        FROM documents WHERE doc_id < 150
    ), hashed AS (
        SELECT doc_id, UNNEST(list_transform(t, tok ->
                   CAST(CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT) AS BIGINT))) AS h
        FROM toks
    ), contribs AS (
        SELECT doc_id, i.i AS i,
               SUM(CASE WHEN ((h >> i.i) & 1) = 1 THEN 1 ELSE -1 END) AS contrib
        FROM hashed, (SELECT UNNEST(range(16)) AS i) i
        GROUP BY doc_id, i.i
    ), sigs AS (
        SELECT doc_id,
               SUM(CASE WHEN contrib > 0 THEN CAST(1 << i AS BIGINT) ELSE 0 END) AS sig
        FROM contribs GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 2
    """,
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash cross-engine verified: md5-derived token hashes feed the
    sign-aggregated 16-bit signature; pairs within Hamming distance 2 must
    match DuckDB's independent bit-arithmetic reproduction. Completes the
    dedup trilogy (exact, MinHash, SimHash) with full oracles; the
    xxhash64 operator remains the production path. Signatures go through
    :func:`simhash_signatures` — the explode+aggregate production twin —
    so the hash-checked oracle pins the same physical path
    ``simhash_dedup_pairs`` runs at scale (round-4 rewrite)."""
    from polars_numba_spark.operators.dedup import hamming64, simhash_signatures

    def md5_hash(tok):
        return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint")

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 150)
    sigs = simhash_signatures(d, "text", "doc_id", bits=16, hash_fn=md5_hash)
    a = sigs.alias("a")
    b = sigs.alias("b")
    ham = hamming64(F.col("a.sig"), F.col("b.sig")).cast("int")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= 2)
    )


@register(
    "doc_novelty_scores",
    oracle=r"""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               CAST(CAST(('0x' || substr(md5(s0), 1, 15)) AS UBIGINT) AS BIGINT) AS s
        FROM (
            SELECT doc_id,
                   UNNEST(list_distinct(list_transform(
                       range(1, greatest(length(string_split_regex(trim(lower(text)), '\s+')) - 7, 0) + 1),
                       i -> array_to_string(string_split_regex(trim(lower(text)), '\s+')[i : i + 7], ' ')))) AS s0
            FROM documents
        )
    ), cnt AS (
        SELECT s, COUNT(*) AS n_docs FROM sh GROUP BY s
    )
    SELECT sh.doc_id,
           COUNT(*) AS n_shingles,
           CAST(COUNT(*) FILTER (WHERE cnt.n_docs = 1) AS BIGINT) AS n_unique,
           CAST(COUNT(*) FILTER (WHERE cnt.n_docs = 1) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM sh JOIN cnt USING (s)
    GROUP BY sh.doc_id
    """,
)
def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-document novelty: the fraction of a document's 8-token
    shingles that appear in NO other document — the corpus-level
    complement of the intra-doc repetition signals (doc_repetition_stats)
    and the per-pair dedup scores: low novelty = boilerplate/template
    text even when no single pair crosses a dedup threshold. Shingles
    shuffle as portable 60-bit md5 longs (same trick as the contamination
    audit).

    Round-7 reformulation (r6 verdict watch item): the original spelling
    joined the FULL shingle table back to its own per-shingle counts —
    and because the count side carries a partial aggregate below its
    exchange, Catalyst can never ReuseExchange the two subtrees, so the
    corpus-wide explode ran twice AND |shingles| rows went through a third
    shuffle for the join. The join-back is unnecessary: a shingle with
    n_docs = 1 has exactly ONE owner, so ``min(doc_id)`` inside the same
    per-shingle aggregate names the doc to credit. Two doc-granularity
    aggregates and a doc-sized join replace the shingle-mass join —
    bit-identical output (differenced at sf0.1), 1.8× faster, and the
    only join left moves O(docs) rows. Plan shape pinned by
    tests/test_plans.py::test_novelty_join_is_doc_granularity.

    Round-14 note: replacing the ``tot`` explode pass with a scan-side
    ``size(token_shingles(...))`` projection was tried and REVERTED on
    measurement (wall floor 1.64 → 3.78s, CPU 15.4 → 17.5): the zero-
    shingle filter references the projected size, Catalyst pushes it below
    the projection and the interpreted shingle build evaluates twice
    (the §4.4 double-evaluation trap), and the explode form's two
    aggregates were already overlapping as independent stages of one job
    — the removed exchange cost no wall."""
    from polars_numba_spark.operators.dedup import md5_long
    from polars_numba_spark.operators.text import token_shingles

    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(token_shingles("text", 8)).alias("s0")
    ).select("doc_id", md5_long(F.col("s0")).alias("s"))
    per_sh = sh.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("owner")
    )
    uniq = (
        per_sh.where(F.col("n_docs") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    tot = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        tot.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_unique"), F.lit(0)).cast("long").alias("n_unique"),
        )
        .withColumn(
            "novelty",
            F.col("n_unique").cast("double") / F.col("n_shingles").cast("double"),
        )
    )


# --- BM25 retrieval + video containers (round 8) ---------------------------

_BM25_QUERIES = [
    ("q_customer", "customer order value"),
    ("q_join", "hash join merge"),
    ("q_scan", "table scan fast"),
    ("q_stream", "stream window batch"),
]
_BM25_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, qtext in _BM25_QUERIES for t in qtext.split()
)
# single source for the ranking constants: the oracle interpolates THESE
# (the within_bound lesson, ADVICE r7) - editing one side cannot desync
# the other. repr() keeps the full double so both engines parse the same
# literal; the '+ 1.0' / '1.0 -' forms are computed identically in-engine.
_BM25_K1 = 1.2
_BM25_B = 0.75


# The full BM25 top-10 statement — shared by doc_bm25_search and the
# RRF fusion face so the ranking function has ONE spelling.
_BM25_ORACLE_SQL = rf"""
    WITH occ AS (
        SELECT doc_id,
               UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM occ GROUP BY doc_id, term
    ), dl AS (
        SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
        FROM dl
    ), q(query_id, term) AS (
        VALUES {_BM25_VALUES}
    ), contrib AS (
        SELECT q.query_id, tf.doc_id,
               ROUND(
                   LN(1.0 + (stats.n_docs - dfreq.df + 0.5)
                            / (dfreq.df + 0.5))
                   * ((tf.tf * ({_BM25_K1!r} + 1.0))
                      / (tf.tf + {_BM25_K1!r} * ((1.0 - {_BM25_B!r})
                         + {_BM25_B!r}
                           * (CAST(dl.dl AS DOUBLE) / stats.avgdl)))),
                   9) AS c
        FROM tf
        JOIN dl ON tf.doc_id = dl.doc_id
        JOIN dfreq ON tf.term = dfreq.term
        JOIN q ON tf.term = q.term
        CROSS JOIN stats
    ), scored AS (
        SELECT query_id, doc_id, COUNT(*) AS n_terms,
               SUM(CAST(c AS DECIMAL(28,12))) AS s
        FROM contrib GROUP BY query_id, doc_id
    ), ranked AS (
        SELECT query_id, doc_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY s DESC, doc_id
               ) AS INTEGER) AS rank,
               CAST(n_terms AS INTEGER) AS n_terms,
               CAST(s AS DOUBLE) AS score
        FROM scored
    )
    SELECT query_id, doc_id, rank, n_terms, score
    FROM ranked WHERE rank <= 10
    """


@register("doc_bm25_search", oracle=_BM25_ORACLE_SQL)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 retrieval for four fixed queries over the document
    corpus — the search-based-decontamination / corpus-QA face. The whole
    ranking function (idf, length normalization, per-term rounding, the
    decimal accumulator, the tie-broken window) is mirrored in the DuckDB
    oracle, so one mis-ranked document anywhere hash-mismatches. Plan: the
    classic distributed inverted index — one explode pass, postings
    equi-join, broadcast query terms + 1-row stats, per-query top-k window
    (operators/text.py::bm25_topk)."""
    d = _t(spark, sf_dir, "documents")
    return X.bm25_topk(d, _BM25_QUERIES, k=10, k1=_BM25_K1, b=_BM25_B)


@register(
    "multimodal_video_meta",
    oracle="""
    SELECT doc_id,
           'video/mp4' AS mime,
           CAST(600 + (doc_id % 5) * 300 AS INTEGER) AS timescale,
           CAST(1200 + (doc_id * 13) % 4800 AS BIGINT) AS duration_ticks,
           CAST(((1200 + (doc_id * 13) % 4800) * 1000)
                // (600 + (doc_id % 5) * 300) AS BIGINT) AS duration_ms,
           CAST(16 * (20 + doc_id % 28) AS INTEGER) AS width,
           CAST(16 * (12 + (doc_id * 7) % 20) AS INTEGER) AS height,
           CAST(244 + (doc_id * 11) % 900 AS INTEGER) AS n_bytes
    FROM documents WHERE doc_id < 300
    """,
)
def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container decoding through the hard gate — the ISO-BMFF
    (MP4) analog of multimodal_image_dims/multimodal_audio_meta, completing
    the image/audio/video triad: minimal-but-genuine MP4 files are
    synthesized in-plan (big-endian box sizes, ftyp + moov/mvhd
    timescale+duration, trak/tkhd 16.16 fixed-point presentation size, an
    mdat body), then the box-walking parser must recover timescale /
    duration / width / height FROM THE BYTES — the oracle computes the
    embedded values (and the byte-exact container size) independently, so a
    parser that misreads a box size, a version offset, or the fixed-point
    shift hash-mismatches. See operators/multimodal.py."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    with_payload = d.select(
        "doc_id",
        M.synthesize_mp4_payload(
            (F.lit(600) + (F.col("doc_id") % 5) * 300).cast("int"),
            (F.lit(1200) + (F.col("doc_id") * 13) % 4800).cast("long"),
            (F.lit(16) * (F.lit(20) + F.col("doc_id") % 28)).cast("int"),
            (F.lit(16) * (F.lit(12) + (F.col("doc_id") * 7) % 20)).cast("int"),
            ((F.col("doc_id") * 11) % 900).cast("int"),
        ).alias("payload"),
    )
    return M.extract_video_meta(with_payload)


def _pagerank_oracle_sql(iterations: int = 5, damping: str = "0.85") -> str:
    """Unrolled fixed-iteration PageRank oracle over the doc-term bipartite
    graph — the SQL twin of operators/graphrank.py::pagerank: per-edge
    contributions rounded to 12 decimals, DECIMAL(28,14) accumulation,
    identical damping arithmetic, so ranks match Spark bit-for-bit."""
    iters = []
    prev = "r0"
    for i in range(1, iterations + 1):
        iters.append(f"""r{i} AS (
        SELECT nodes.node,
               ROUND((1.0 - {damping}) / (SELECT n FROM nn)
                     + {damping} * COALESCE(CAST(agg.s AS DOUBLE), 0.0),
                     12) AS rank
        FROM nodes LEFT JOIN (
            SELECT e.dst AS node,
                   SUM(CAST(ROUND(r.rank / o.outdeg, 12) AS DECIMAL(28,14)))
                       AS s
            FROM edges e
            JOIN {prev} r ON e.src = r.node
            JOIN outdeg o ON e.src = o.node
            GROUP BY e.dst
        ) agg ON agg.node = nodes.node
    )""")
        prev = f"r{i}"
    iter_sql = ", ".join(iters)
    return rf"""
    WITH occ AS (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id,
                   UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents
        )
    ), edges AS (
        SELECT 'd:' || CAST(doc_id AS VARCHAR) AS src, 't:' || term AS dst
        FROM occ
        UNION ALL
        SELECT 't:' || term, 'd:' || CAST(doc_id AS VARCHAR) FROM occ
    ), nodes AS (
        SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ), outdeg AS (
        SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src
    ), nn AS (
        SELECT COUNT(*) AS n FROM nodes
    ), r0 AS (
        SELECT node, ROUND(1.0 / (SELECT n FROM nn), 12) AS rank FROM nodes
    ), {iter_sql}
    SELECT CAST(substr(node, 3) AS BIGINT) AS doc_id, rank AS pagerank
    FROM {prev} WHERE node LIKE 'd:%'
    """


@register("doc_pagerank_centrality", oracle=_pagerank_oracle_sql(5))
def doc_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-centrality scoring via PageRank on the doc-term bipartite
    graph (TextRank's document-level cousin; the web-graph ancestor of
    source-importance weights in crawl curation) — the iterative-algorithm
    family's second member next to connected components, and FULLY ORACLED:
    5 power iterations with round-12 edge contributions in decimal
    accumulators unroll into a flat DuckDB query whose ranks match Spark
    hash-for-hash (operators/graphrank.py). Runs the WHOLE table (no cap):
    each iteration is one edge-list join + one dst-keyed groupBy, shuffles
    keyed on node id, edge list and per-round ranks localCheckpoint'd so
    round k never re-derives the graph construction."""
    from polars_numba_spark.operators.graphrank import pagerank

    d = _t(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id", F.explode(X.tokens("text")).alias("term")
    ).distinct()
    doc_node = F.concat(F.lit("d:"), F.col("doc_id").cast("string"))
    term_node = F.concat(F.lit("t:"), F.col("term"))
    edges = occ.select(doc_node.alias("src"), term_node.alias("dst")).union(
        occ.select(term_node.alias("src"), doc_node.alias("dst"))
    )
    pr = pagerank(edges, damping=0.85, iterations=5)
    return pr.where(F.col("node").startswith("d:")).select(
        F.expr("substr(node, 3)").cast("long").alias("doc_id"),
        F.col("rank").alias("pagerank"),
    )


_TRIP_NEG = _MD5INT_SQL.format(
    x="CAST(aid AS VARCHAR) || '#neg#' || CAST(slot AS VARCHAR)"
)
_TRIP_PICK = _MD5INT_SQL.format(
    x="CAST(aid AS VARCHAR) || '#pick#' || CAST(slot AS VARCHAR)"
)


@register(
    "embedding_contrastive_triplets",
    oracle=_kmeans2_ctes(_K_SELF_SCALED)
    + f"""
    , e AS (
        SELECT v.vec_id, em.label, v.emb, a2.assigned AS cell
        FROM v JOIN embeddings em ON em.vec_id = v.vec_id
        JOIN a2 ON a2.vec_id = v.vec_id
    ), pairs AS (
        -- ROUND 9dp: duplicate vectors must tie engine-exact (see
        -- contrastive_triplets round_to)
        SELECT a.vec_id AS aid, b.vec_id AS bid,
               ROUND(list_cosine_similarity(a.emb, b.emb), 9) AS pos_sim
        FROM e a JOIN e b ON a.label = b.label AND a.cell = b.cell
                         AND a.vec_id <> b.vec_id
    ), pos AS (
        SELECT aid, bid AS positive_id, pos_sim,
               ROW_NUMBER() OVER (
                   PARTITION BY aid ORDER BY pos_sim DESC, bid
               ) AS rn
        FROM pairs
    ), labs AS (
        SELECT label, COUNT(*) AS cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY label) - 1 AS BIGINT) AS idx
        FROM e GROUP BY label
    ), nl AS (
        SELECT COUNT(*) AS L FROM labs
    ), slots AS (
        SELECT vec_id AS aid, label, UNNEST([1, 2]) AS slot FROM e
    ), tgt AS (
        SELECT s.aid, s.slot, own.idx,
               {_TRIP_NEG} % ((SELECT L FROM nl) - 1) AS r
        FROM slots s JOIN labs own ON s.label = own.label
    ), tgt2 AS (
        SELECT aid, slot,
               CASE WHEN r < idx THEN r ELSE r + 1 END AS tidx
        FROM tgt
    ), pick AS (
        SELECT t.aid, t.slot, lb.label AS tlab,
               {_TRIP_PICK} % lb.cnt AS pidx
        FROM tgt2 t JOIN labs lb ON lb.idx = t.tidx
    ), ei AS (
        SELECT vec_id, label,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY label ORDER BY vec_id
               ) - 1 AS BIGINT) AS rn
        FROM e
    ), neg AS (
        SELECT p.aid, p.slot, ei.vec_id AS negative_id
        FROM pick p JOIN ei ON ei.label = p.tlab AND ei.rn = p.pidx
    )
    SELECT n.aid AS anchor_id, CAST(n.slot AS INTEGER) AS slot,
           pos.positive_id, pos.pos_sim, n.negative_id
    FROM neg n JOIN pos ON pos.aid = n.aid AND pos.rn = 1
    """,
)
def embedding_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-learning triplet mining over the labeled embedding
    corpus — (anchor, hardest LOCAL same-label positive by cosine, two
    hash-picked different-label negatives) — the metric-learning
    data-prep face, FULLY ORACLED: positives are (label × k-means
    cell)-bounded pairwise cosine (bit-exact vs list_cosine_similarity;
    the cell bound is the shared ``_kmeans2_ctes`` recipe with the
    self-scaling ``_K_SELF_SCALED`` k — the r10 verdict's fix for the
    label-wide Σ|label|² join, which at 100× corpus with a fixed label
    set was 10⁴× pair mass), negatives are md5-rank-arithmetic picks
    (pure function of ids — no rand(), no sampling state), so DuckDB
    rebuilds every triplet identically
    (operators/vector.py::contrastive_triplets)."""
    from polars_numba_spark.operators.vector import contrastive_triplets

    e = _t(spark, sf_dir, "embeddings")
    return contrastive_triplets(
        e, id_col="vec_id", label_col="label", vec_col="embedding",
        negatives=2, cells="auto", round_to=9,
    )


_RECALL_SIG, _RECALL_BANDS = _minhash_band_sql(32, 8)
_RECALL_J = (
    "CAST(length(a.t) + length(b.t)"
    " - length(list_distinct(list_concat(a.t, b.t))) AS DOUBLE)"
    " / length(list_distinct(list_concat(a.t, b.t)))"
)


@register(
    "dedup_minhash_recall",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
        FROM documents WHERE doc_id < 300
    ), sigs AS (
        SELECT doc_id, t, [ {_RECALL_SIG} ] AS sig FROM toks
    ), banded AS (
        {_RECALL_BANDS}
    ), cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    ), allj AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, {_RECALL_J} AS j
        FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    ), marked AS (
        SELECT allj.a_id, allj.b_id, allj.j,
               CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END AS c
        FROM allj LEFT JOIN cands c
          ON allj.a_id = c.a_id AND allj.b_id = c.b_id
    ), thrs AS (
        SELECT CAST(UNNEST([0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold
    ), nc AS (
        SELECT COUNT(*) AS n_candidates FROM cands
    ), agg AS (
        SELECT t.threshold,
               COUNT(m.a_id) AS n_true,
               COALESCE(SUM(m.c), 0) AS n_caught
        FROM thrs t LEFT JOIN marked m ON m.j >= t.threshold
        GROUP BY t.threshold
    )
    SELECT threshold,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_caught AS BIGINT) AS n_caught,
           (SELECT n_candidates FROM nc) AS n_candidates,
           CASE WHEN n_true > 0
                THEN ROUND(CAST(n_caught AS DOUBLE) / n_true, 6) END AS recall
    FROM agg
    """,
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-recall evaluation for the minhash LSH scheme, FULLY ORACLED —
    the text-dedup analog of the embedding recall faces, but hash-green
    instead of rows-only (portable md5 signatures make the candidate set
    itself reproducible): exact all-pairs token Jaccard on a capped slice
    (the deliberately quadratic differential-probe posture dedup_clusters
    documents — production recall audits sample) crossed against the
    32-hash/8-band candidate pairs, reported as recall per threshold in
    {{0.6, 0.7, 0.8, 0.9}}. One wrong candidate pair or one mis-scored
    true pair anywhere moves a count and hash-mismatches."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    ids_a = d.select(F.col("doc_id").alias("a_id"))
    ids_b = d.select(F.col("doc_id").alias("b_id"))
    allp = ids_a.crossJoin(ids_b).where(F.col("a_id") < F.col("b_id"))
    exact = D.jaccard_pairs(d, allp)
    from polars_numba_spark.plans.checkpoint import checkpoint

    # cands feeds the truth-marking join AND the candidate count;
    # materialize the banded self-join's output once (pair ids only).
    cands = checkpoint(
        D.minhash_lsh_candidates(
            d, num_hashes=32, bands=8, portable=True
        ).withColumn("__c", F.lit(1))
    )
    marked = exact.join(cands, ["a_id", "b_id"], "left").select(
        "jaccard", F.coalesce(F.col("__c"), F.lit(0)).alias("c")
    )
    thr_df = spark.createDataFrame(
        [(0.6,), (0.7,), (0.8,), (0.9,)], "threshold double"
    )
    agg = (
        marked.crossJoin(F.broadcast(thr_df))
        .where(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum("c").alias("n_caught"),
        )
    )
    n_cands = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        thr_df.join(agg, "threshold", "left")
        .crossJoin(F.broadcast(n_cands))
        .select(
            "threshold",
            F.coalesce(F.col("n_true"), F.lit(0)).cast("long").alias("n_true"),
            F.coalesce(F.col("n_caught"), F.lit(0)).cast("long").alias("n_caught"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.when(
                F.coalesce(F.col("n_true"), F.lit(0)) > 0,
                F.round(
                    F.col("n_caught").cast("double")
                    / F.col("n_true").cast("double"),
                    6,
                ),
            ).alias("recall"),
        )
    )


@register(
    "source_drift_ks",
    oracle="""
    WITH v AS (
        SELECT source AS g, n_chars AS x FROM documents
        WHERE n_chars IS NOT NULL
    ), per_gv AS (
        SELECT g, x, COUNT(*) AS c FROM v GROUP BY g, x
    ), per_v AS (
        SELECT x, COUNT(*) AS call FROM v GROUP BY x
    ), totals AS (
        SELECT g, COUNT(*) AS n_g FROM v GROUP BY g
    ), na AS (
        SELECT COUNT(*) AS n_all FROM v
    ), grid AS (
        SELECT t.g, pv.x, pv.call FROM totals t CROSS JOIN per_v pv
    ), joined AS (
        SELECT grid.g, grid.x, COALESCE(pg.c, 0) AS c, grid.call
        FROM grid LEFT JOIN per_gv pg ON pg.g = grid.g AND pg.x = grid.x
    ), cum AS (
        SELECT g, x,
               SUM(c) OVER (PARTITION BY g ORDER BY x) AS cum_g,
               SUM(call) OVER (PARTITION BY g ORDER BY x) AS cum_all
        FROM joined
    ), d AS (
        SELECT c.g, t.n_g,
               ABS(CAST(cum_g AS DOUBLE) / CAST(t.n_g AS DOUBLE)
                   - CAST(cum_all AS DOUBLE)
                     / CAST((SELECT n_all FROM na) AS DOUBLE)) AS d
        FROM cum c JOIN totals t ON c.g = t.g
    )
    SELECT g AS source, CAST(MAX(n_g) AS BIGINT) AS n_docs,
           ROUND(MAX(d), 9) AS ks_stat
    FROM d GROUP BY g
    """,
)
def source_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution-drift audit, fully oracled: the two-sample
    Kolmogorov-Smirnov statistic of each source's document-length
    distribution against the whole corpus — the shard/source/snapshot QA
    signal ("did src7's length profile drift?"). Pure rank arithmetic
    (integer-count CDF ratios, sup over the step grid), so the statistic
    is bit-identical cross-engine (operators/profile.py::ks_drift)."""
    from polars_numba_spark.operators.profile import ks_drift

    d = _t(spark, sf_dir, "documents")
    return ks_drift(d, "n_chars", "source")


_GOPHER = X.gopher_sql_exprs("text")


@register(
    "doc_gopher_filter",
    oracle=f"""
    SELECT doc_id,
           {_GOPHER['n_words']} AS n_words,
           {_GOPHER['mean_word_len']} AS mean_word_len,
           {_GOPHER['frac_alpha_words']} AS frac_alpha_words,
           {_GOPHER['symbol_word_ratio']} AS symbol_word_ratio,
           {_GOPHER['stopword_hits']} AS stopword_hits,
           {_GOPHER['keep']} AS keep
    FROM documents
    """,
)
def doc_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filter (Rae et al. 2021 word-level subset):
    word-count / mean-word-length / alphabetic-fraction / symbol-ratio /
    stopword-presence flags and the conjunctive keep verdict, as pure
    codegen over one documents scan (operators/text.py::
    gopher_quality_flags). Thresholds are single-sourced into the oracle
    via gopher_sql_exprs so they cannot desync."""
    d = _t(spark, sf_dir, "documents")
    return X.gopher_quality_flags(d, "text", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


@register(
    "bpe_merge_candidates",
    oracle=r"""
    WITH w AS (
        SELECT UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents
    ), pairs AS (
        SELECT UNNEST(list_transform(range(1, length(w)), i -> substr(w, i, 2)))
                   AS pair
        FROM w WHERE length(w) >= 2
    ), counts AS (
        SELECT pair, COUNT(*) AS n_occurrences FROM pairs GROUP BY pair
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair)
                AS INTEGER) AS rank,
           pair, n_occurrences
    FROM counts ORDER BY n_occurrences DESC, pair LIMIT 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE vocabulary-induction step (Sennrich et al. 2016):
    count every adjacent symbol pair inside words across the corpus and
    rank the top merge candidates. Pure codegen — words explode to char
    bigrams in-plan, one count aggregate (map-side combinable over a key
    space bounded by |alphabet|^2), then a global top-20
    (TakeOrderedAndProject: each partition ships only its own top rows).
    Deterministic tie-break (count desc, pair asc) makes the ranking
    hash-exact cross-engine."""
    d = _t(spark, sf_dir, "documents")
    pairs = (
        d.select(F.explode(X.tokens("text")).alias("w"))
        .where(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
    )
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    top = counts.orderBy(F.col("n_occurrences").desc(), "pair").limit(20)
    from pyspark.sql import Window as W

    rank_w = W.orderBy(F.col("n_occurrences").desc(), "pair")
    return top.select(
        F.row_number().over(rank_w).cast("int").alias("rank"),
        "pair",
        "n_occurrences",
    )


@register(
    "doc_char_entropy",
    oracle="""
    WITH s AS (
        SELECT doc_id, regexp_replace(lower(text), '\\s+', '', 'g') AS s
        FROM documents
    ), chars AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, length(s) + 1),
                                     i -> substr(s, i, 1))) AS ch
        FROM s
    ), counts AS (
        SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
    ), terms AS (
        SELECT doc_id, c,
               CAST(ROUND(
                   (CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY doc_id))
                   * LN(CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY doc_id)),
                   9) AS DECIMAL(28,12)) AS term
        FROM counts
    )
    SELECT doc_id,
           CAST(SUM(c) AS INTEGER) AS n_chars,
           CAST(COUNT(*) AS INTEGER) AS n_distinct_chars,
           CAST(-SUM(term) AS DOUBLE) AS char_entropy
    FROM terms GROUP BY doc_id
    """,
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/boilerplate detector (binary junk scores near 0, natural
    text ~4 bits): one explode to per-(doc, char) counts, one grouped
    aggregate. Hash-exact cross-engine via the round-9-decimal term
    accumulator (float sum order cannot perturb a bit). Whitespace is
    stripped before counting so layout doesn't dilute the signal."""
    d = _t(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        F.regexp_replace(X.casefolded("text"), r"\s+", "").alias("s"),
    )
    # sequence(1, 0) counts DOWN for empty/whitespace-only docs (the
    # token_shingles guard) — emit an empty char array instead, matching
    # DuckDB's empty range(1, 1)
    char_arr = F.transform(
        F.sequence(F.lit(1), F.length("s")),
        lambda i: F.col("s").substr(i, F.lit(1)),
    )
    chars = s.select(
        "doc_id",
        F.explode(
            F.when(F.length("s") >= 1, char_arr).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window as W

    tot = F.sum("c").over(W.partitionBy("doc_id"))
    p = F.col("c").cast("double") / tot
    term = F.round(p * F.log(p), 9).cast("decimal(28,12)")
    return (
        counts.withColumn("__term", term)
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("int").alias("n_chars"),
            F.count(F.lit(1)).cast("int").alias("n_distinct_chars"),
            (-F.sum("__term")).cast("double").alias("char_entropy"),
        )
    )


@register(
    "doc_quality_calibrated",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source, {X.sql_quality('text')} AS quality
        FROM documents
    ), bounds AS (
        SELECT quantile_cont(quality,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS b
        FROM scored
    )
    SELECT doc_id, source, quality,
           percent_rank() OVER (PARTITION BY source
                                ORDER BY quality, doc_id) AS src_pct_rank,
           CAST(1 + length(list_filter(b, x -> quality > x)) AS INTEGER)
               AS global_decile
    FROM scored, bounds
    """,
)
def doc_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: raw scores are not comparable
    across sources (each crawl/domain has its own score distribution), so
    curation thresholds operate on the WITHIN-SOURCE percentile rank, plus
    a global decile for mixture budgeting. The global decile is
    VALUE-BUCKETED against the nine exact percentile boundaries computed
    by one aggregate and broadcast as a single row — the original global
    ntile was a SINGLE-REDUCER total sort (the r8 10x soak flagged it),
    the exact bottleneck a 100-TB corpus cannot pay; Spark's percentile()
    and DuckDB's quantile_cont interpolate identically (the
    order_price_quantiles precedent). The within-source percent_rank
    remains a window partitioned on the source key: parallelism is
    bounded by source cardinality (the 10x soak reads ~3.2x wall for 10x
    rows on 20 sources — sublinear per row, but a corpus with ONE
    dominant source should swap the exact rank for the histogram/t-digest
    percentile estimate, operators/sketch.py)."""
    from pyspark.sql import Window as W

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "source", X.quality_score("text").alias("quality")
    )
    bounds = scored.agg(
        F.percentile(
            "quality", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
        ).alias("b")
    )
    src_w = W.partitionBy("source").orderBy("quality", "doc_id")
    return scored.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "source",
        "quality",
        F.percent_rank().over(src_w).alias("src_pct_rank"),
        (
            F.lit(1)
            + F.size(F.filter("b", lambda x: F.col("quality") > x))
        )
        .cast("int")
        .alias("global_decile"),
    )


@register(
    "corpus_vocab_growth",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
    ), n AS (
        SELECT MAX(doc_id) + 1 AS n_docs FROM documents
    ), firsts AS (
        SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok
    ), vocab_by_cp AS (
        SELECT (first_doc * 10) // n_docs + 1 AS cp, COUNT(*) AS v
        FROM firsts, n GROUP BY 1
    ), tokens_by_cp AS (
        SELECT (doc_id * 10) // n_docs + 1 AS cp, COUNT(*) AS t
        FROM toks, n GROUP BY 1
    ), spine AS (
        SELECT UNNEST(range(1, 11)) AS cp
    ), cum AS (
        SELECT s.cp,
               SUM(COALESCE(v.v, 0)) OVER (ORDER BY s.cp) AS vocab_size,
               SUM(COALESCE(t.t, 0)) OVER (ORDER BY s.cp) AS n_tokens_cum
        FROM spine s
        LEFT JOIN vocab_by_cp v ON v.cp = s.cp
        LEFT JOIN tokens_by_cp t ON t.cp = s.cp
    )
    SELECT CAST(cp AS INTEGER) AS checkpoint,
           CAST(n_tokens_cum AS BIGINT) AS n_tokens_cum,
           CAST(vocab_size AS BIGINT) AS vocab_size,
           CASE WHEN vocab_size > 0 AND n_tokens_cum > 0
                THEN ROUND(LN(CAST(vocab_size AS DOUBLE))
                           / LN(CAST(n_tokens_cum AS DOUBLE)), 9)
           END AS heaps_beta
    FROM cum
    """,
)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative distinct-token count
    vs cumulative token count at ten corpus checkpoints (doc-id decile
    boundaries computed IN-PLAN from the 1-row corpus size), plus the
    empirical Heaps exponent ln(V)/ln(T) per checkpoint. The tokenizer
    sizing / crawl-coverage diagnostic: a flattening curve says new data
    stops adding vocabulary. Scale shape: one explode feeds two bounded
    aggregates — per-token MIN(doc_id) (the first-occurrence table, the
    only vocabulary-sized state) and per-checkpoint token counts — then a
    10-row cumulative window; exact integers everywhere, so the only
    float is the final rounded log ratio."""
    from pyspark.sql import Window as W

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
    n = d.agg((F.max("doc_id") + 1).alias("n_docs"))
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    vocab_by_cp = (
        firsts.crossJoin(F.broadcast(n))
        .select(
            # integer DIV, not floor(double /): doc_id*10 must stay exact
            # past 2^53 at web-corpus scale
            (F.expr("first_doc * 10 div n_docs") + 1).alias("cp")
        )
        .groupBy("cp")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    tokens_by_cp = (
        toks.crossJoin(F.broadcast(n))
        .select(
            (F.expr("doc_id * 10 div n_docs") + 1).alias("cp")
        )
        .groupBy("cp")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    spine = spark.range(1, 11).select(F.col("id").alias("cp"))
    w = W.orderBy("cp")
    cum = (
        spine.join(vocab_by_cp, "cp", "left")
        .join(tokens_by_cp, "cp", "left")
        .select(
            "cp",
            F.sum(F.coalesce(F.col("v"), F.lit(0))).over(w).alias("vocab_size"),
            F.sum(F.coalesce(F.col("t"), F.lit(0)))
            .over(w)
            .alias("n_tokens_cum"),
        )
    )
    return cum.select(
        F.col("cp").cast("int").alias("checkpoint"),
        F.col("n_tokens_cum").cast("long").alias("n_tokens_cum"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.round(
            F.log(F.col("vocab_size").cast("double"))
            / F.log(F.col("n_tokens_cum").cast("double")),
            9,
        ).alias("heaps_beta"),
    )


@register("embedding_pq_recall")  # self-evaluating — PQ-ADC vs exact
def embedding_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end-to-end (Jégou et al. 2011): 8 subspaces
    × 16 codes trained by in-plan L2 Lloyd iterations (all subspaces in
    one keyed plan), corpus encoded to 8 codes/vector (32× smaller than
    float32 — the billion-scale ANN storage form), then BOTH stages of
    the standard retrieval architecture self-evaluated against exact
    brute-force for 10 queries: raw asymmetric-distance top-5 (search
    never reads a raw corpus vector) and ADC-shortlist-50 → exact rerank
    (touches 10% of raw vectors at sf0.01). Unstructured random
    embeddings are PQ's worst case — neighbor cosine gaps are smaller
    than the coarse quantization error — so the raw-ADC number is
    honestly low and the report shows exactly what the rerank stage buys
    (~0.26 → ~0.76 here). Completes the quantization/index matrix next
    to int8 (scalar), IVF (coarse cells), and LSH (hash buckets)."""
    from polars_numba_spark.operators.vector import (
        pq_adc_topk,
        pq_encode,
        pq_rerank_topk,
        pq_train_codebooks,
    )

    from polars_numba_spark.plans.checkpoint import checkpoint

    e = _t(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(e, m=8, k=16, iterations=2)
    # codes feeds BOTH retrieval stages (raw ADC + the rerank's shortlist
    # ADC) and exact feeds three consumers (two hit joins + the count);
    # materialize each once — codes is n x m small ints, exact is 50 rows —
    # instead of re-encoding the corpus and re-running brute force per use.
    q = e.where(F.col("vec_id") < 10)
    # codes (Lloyd training + encode) and exact (brute force) are
    # independent subtrees, each well under full-width; materialize them
    # from two submitter threads so their jobs interleave (r15, same
    # pattern as doc_search_authority_rrf — results identical).
    import concurrent.futures as _cf

    with _cf.ThreadPoolExecutor(max_workers=2) as _ex:
        codes_f = _ex.submit(
            lambda: checkpoint(pq_encode(e, books, m=8))
        )
        exact_f = _ex.submit(
            lambda: checkpoint(S.brute_force_topk(e, q, k=5))
        )
        codes = codes_f.result()
        exact = exact_f.result()
    adc = pq_adc_topk(codes, q, books, k=5, m=8).select(
        F.col("query_id").alias("aq"),
        F.col("neighbor_id").alias("an"),
        F.col("cosine_sim").alias("approx_sim"),
    )
    rr = pq_rerank_topk(codes, e, q, books, k=5, shortlist=50, m=8).select(
        F.col("query_id").alias("rq"), F.col("neighbor_id").alias("rn")
    )
    adc_hits = exact.join(
        adc, (exact.query_id == adc.aq) & (exact.neighbor_id == adc.an)
    )
    rr_hits = exact.join(
        rr, (exact.query_id == rr.rq) & (exact.neighbor_id == rr.rn)
    )
    n_corpus = e.agg(F.count(F.lit(1)).alias("n_corpus"))
    return (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(
            adc_hits.agg(
                F.count(F.lit(1)).alias("__adc_hits"),
                F.avg(F.abs(F.col("cosine_sim") - F.col("approx_sim"))).alias(
                    "mean_abs_cos_err"
                ),
            )
        )
        .crossJoin(rr_hits.agg(F.count(F.lit(1)).alias("__rr_hits")))
        .crossJoin(n_corpus)
        .select(
            "n_exact",
            # empty corpus -> recall/scan-frac undefined: NULL, not an
            # ANSI divide-by-zero (the near_dup_recall guard convention)
            F.when(
                F.col("n_exact") > 0, F.col("__adc_hits") / F.col("n_exact")
            ).alias("adc_recall_at_5"),
            F.when(
                F.col("n_exact") > 0, F.col("__rr_hits") / F.col("n_exact")
            ).alias("rerank_recall_at_5"),
            F.when(
                F.col("n_corpus") > 0, F.lit(50.0) / F.col("n_corpus")
            ).alias("exact_scan_frac"),
            "mean_abs_cos_err",
        )
    )


def _pq_assign_sql(out: str, cents: str, keep_vec: bool) -> str:
    """One PQ argmin-assignment CTE body: round-9 L2 distance
    (-2·<v,c> + |c|², the exact Spark expression in _pq_assign with
    round_to=9), ties on code — cn2 computed as an ordered left fold so
    both engines evaluate bit-identical float expressions."""
    vec = ", subvec" if keep_vec else ""
    return f"""{out} AS (
      SELECT vec_id, s{vec}, code FROM (
        SELECT su.vec_id, su.s, su.subvec, c.code,
               ROW_NUMBER() OVER (PARTITION BY su.vec_id, su.s
                   ORDER BY ROUND(-2.0 * list_dot_product(su.subvec, c.cent)
                       + list_reduce(list_transform(c.cent, x -> x * x),
                                     (a, b) -> a + b), 9),
                        c.code) AS rn
        FROM subs su JOIN {cents} c ON su.s = c.s
      ) WHERE rn = 1
    )"""


def _pq_update_sql(i: int, assigned: str) -> str:
    """One Lloyd centroid-update CTE pair: decimal-exact per-dim means
    rounded to 9 (the _KMEANS2_CTES recipe, = pq_train_codebooks with
    round_to=9)."""
    return f"""dims{i} AS (
      SELECT a.s, a.code, d.i - 1 AS dim, d.x
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.subvec) AS x,
                           generate_subscripts(a.subvec, 1) AS i) d
    ), cent{i} AS (
      SELECT s, code, list(mean ORDER BY dim) AS cent FROM (
        SELECT s, code, dim,
               ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                   / COUNT(*), 9) AS mean
        FROM dims{i} GROUP BY s, code, dim
      ) GROUP BY s, code
    )"""


_PQ_ENCODE_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), subs AS (
      -- _pq_subvectors: m=4 contiguous subspaces, last absorbs dim % m
      SELECT vec_id, s.s AS s,
             CASE WHEN s.s = 3
                  THEN emb[3 * (len(emb) // 4) + 1 : len(emb)]
                  ELSE emb[s.s * (len(emb) // 4) + 1
                           : (s.s + 1) * (len(emb) // 4)]
             END AS subvec
      FROM v, (SELECT UNNEST(range(4)) AS s) s
    ), sids AS (
      -- deterministic seeding: first k=16 vectors by id, codes 0..15
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code FROM v
    ), cent0 AS (
      SELECT su.s, si.code, su.subvec AS cent
      FROM subs su JOIN sids si ON su.vec_id = si.vec_id
      WHERE si.code < 16
    ), {_pq_assign_sql('a1', 'cent0', keep_vec=True)},
    {_pq_update_sql(1, 'a1')},
    {_pq_assign_sql('a2', 'cent1', keep_vec=True)},
    {_pq_update_sql(2, 'a2')},
    {_pq_assign_sql('enc', 'cent2', keep_vec=False)}
    SELECT vec_id, s, code FROM enc
"""


@register("embedding_pq_encode", oracle=_PQ_ENCODE_ORACLE)
def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ's deterministic stages made hash-checkable (VERDICT r12 #4 —
    embedding_pq_recall was the last no-oracle window record; given FIXED
    codebooks, encode is a pure function): 4 subspaces × 16 codes trained
    by the portable 2-iteration Lloyd recipe (``round_to=9``: decimal-exact
    per-dim means rounded to 9, round-before-compare argmins — the
    _KMEANS2_CTES conventions), then the corpus encoded to (vec_id, s,
    code). The oracle unrolls training AND encode into plain SQL — seeding,
    both Lloyd iterations, every argmin — so the hash gate pins the full
    train→encode pipeline bit-exactly; the recall REPORT (production
    unrounded path) stays a rows-only self-evaluation by construction
    (operators/vector.py::pq_train_codebooks, ::pq_encode)."""
    from polars_numba_spark.operators.vector import (
        pq_encode,
        pq_train_codebooks,
    )

    e = _t(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(e, m=4, k=16, iterations=2, round_to=9)
    codes = pq_encode(e, books, m=4, round_to=9)
    return codes.orderBy("id", "s").select(
        F.col("id").alias("vec_id"), "s", "code"
    )


_RRF_K = 60


@register(
    "doc_search_authority_rrf",
    oracle=f"""
    WITH bm AS (
        SELECT * FROM ({_BM25_ORACLE_SQL}) __bm
    ), pr AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY pagerank DESC, doc_id)
                    AS INTEGER) AS auth_rank
        FROM ({_pagerank_oracle_sql(3)}) __pr
    ), fused AS (
        SELECT bm.query_id, bm.doc_id,
               bm.rank AS bm25_rank, pr.auth_rank,
               ROUND(1.0 / ({_RRF_K} + bm.rank), 9)
                   + ROUND(1.0 / ({_RRF_K} + pr.auth_rank), 9) AS rrf_score
        FROM bm JOIN pr USING (doc_id)
    )
    SELECT query_id, doc_id, bm25_rank, auth_rank, rrf_score,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
           ) AS INTEGER) AS fused_rank
    FROM fused
    """,
)
def doc_search_authority_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid ranking by reciprocal-rank fusion (Cormack et al. 2009):
    BM25 relevance fused with PageRank corpus authority — the classic
    search-engine composition (relevance × importance), here fusing two
    independently-oracled components so the WHOLE hybrid ranking is
    hash-exact: rrf = 1/(60+bm25_rank) + 1/(60+authority_rank) is pure
    rank arithmetic on exact integers (round-9 per term, no sum-order
    sensitivity — two addends). Scale shape: BM25's inverted index and
    PageRank's edge-keyed iterations are each already plan-audited; the
    fusion itself is a top-10-per-query × authority-rank broadcast-sized
    join plus a per-query window. Both component spellings are
    single-sourced (_BM25_ORACLE_SQL, _pagerank_oracle_sql) so neither
    can desync from its standalone face."""
    from pyspark.sql import Window as W

    from polars_numba_spark.operators.graphrank import pagerank
    from polars_numba_spark.plans.checkpoint import checkpoint

    d = _t(spark, sf_dir, "documents")

    # bm feeds BOTH the candidate-threshold broadcast and the fusion join;
    # without materialization each side replays the whole BM25 ranking
    # (measured: 2x the face's dominant CPU). Top-10-per-query rows — tiny.
    def _build_bm():
        return checkpoint(
            X.bm25_topk(d, _BM25_QUERIES, k=10, k1=_BM25_K1, b=_BM25_B)
        )

    # pr feeds both the candidate filter and the strictly-above count scan;
    # materialize the 3-iteration PageRank once (|doc nodes| rows) instead
    # of replaying the whole iteration chain per consumer.
    def _build_pr():
        occ = d.select(
            "doc_id", F.explode(X.tokens("text")).alias("term")
        ).distinct()
        doc_node = F.concat(F.lit("d:"), F.col("doc_id").cast("string"))
        term_node = F.concat(F.lit("t:"), F.col("term"))
        edges = occ.select(doc_node.alias("src"), term_node.alias("dst")).union(
            occ.select(term_node.alias("src"), doc_node.alias("dst"))
        )
        return checkpoint(
            pagerank(edges, damping=0.85, iterations=3)
            .where(F.col("node").startswith("d:"))
            .select(
                F.expr("substr(node, 3)").cast("long").alias("doc_id"),
                F.col("rank").alias("pagerank"),
            )
        )

    # The two component subtrees are INDEPENDENT and each leaves cores
    # idle (BM25's postings stages are wide but short; PageRank's
    # iteration probes are narrow) — materialize them from two submitter
    # threads so their jobs interleave in the scheduler (r15 A/B: face
    # wall floor 9.75s -> 5.70s, identical results: the subtrees share
    # nothing and each checkpoint tracks its own RDD id).
    import concurrent.futures as _cf

    with _cf.ThreadPoolExecutor(max_workers=2) as _ex:
        bm_f = _ex.submit(_build_bm)
        pr_f = _ex.submit(_build_pr)
        bm = bm_f.result()
        pr = pr_f.result()
    # Global authority rank of the ≤40 candidate docs WITHOUT a global
    # total sort (the single-reducer shape the r8 soak flagged elsewhere):
    # rank = 1 + count of docs strictly above in (pagerank desc, doc_id)
    # order, computed by broadcasting the candidate thresholds over ONE
    # scan of the pagerank table — identical values to the oracle's
    # global row_number, at a cost of |corpus| × |candidates ≤ 40|.
    cand_pr = pr.join(
        F.broadcast(bm.select("doc_id").distinct()), "doc_id"
    ).select(
        F.col("doc_id").alias("__cd"), F.col("pagerank").alias("__cp")
    )
    above = (
        pr.join(
            F.broadcast(cand_pr),
            (F.col("pagerank") > F.col("__cp"))
            | ((F.col("pagerank") == F.col("__cp")) & (F.col("doc_id") < F.col("__cd"))),
        )
        .groupBy("__cd")
        .agg(F.count(F.lit(1)).alias("__n_above"))
    )
    auth = (
        cand_pr.join(above, "__cd", "left")
        .select(
            F.col("__cd").alias("doc_id"),
            (F.coalesce(F.col("__n_above"), F.lit(0)) + 1)
            .cast("int")
            .alias("auth_rank"),
        )
    )
    fused = bm.join(F.broadcast(auth), "doc_id").select(
        "query_id",
        "doc_id",
        F.col("rank").alias("bm25_rank"),
        "auth_rank",
        (
            F.round(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank")), 9)
            + F.round(F.lit(1.0) / (F.lit(_RRF_K) + F.col("auth_rank")), 9)
        ).alias("rrf_score"),
    )
    return fused.withColumn(
        "fused_rank",
        F.row_number()
        .over(W.partitionBy("query_id").orderBy(F.col("rrf_score").desc(), "doc_id"))
        .cast("int"),
    )


_PSI_BIN_W = 32  # chars per length bin (frozen; oracle embeds it)


@register(
    "source_drift_psi",
    oracle=f"""
    WITH binned AS (
        SELECT source, length(text) // {_PSI_BIN_W} AS bin FROM documents
    ), bins AS (
        SELECT DISTINCT bin FROM binned
    ), nb AS (
        SELECT COUNT(*) AS n_bins FROM bins
    ), base AS (
        SELECT bin, COUNT(*) AS cb FROM binned GROUP BY bin
    ), nbase AS (
        SELECT COUNT(*) AS nt FROM binned
    ), src AS (
        SELECT source, bin, COUNT(*) AS cs FROM binned GROUP BY source, bin
    ), nsrc AS (
        SELECT source, COUNT(*) AS ns FROM binned GROUP BY source
    ), grid AS (
        SELECT n.source, b.bin, n.ns, COALESCE(s.cs, 0) AS cs
        FROM nsrc n CROSS JOIN bins b
        LEFT JOIN src s ON s.source = n.source AND s.bin = b.bin
    ), terms AS (
        SELECT g.source, g.ns,
               CAST(ROUND(
                   ((CAST(g.cs + 1 AS DOUBLE) / (g.ns + nb.n_bins))
                    - (CAST(ba.cb + 1 AS DOUBLE) / (nbase.nt + nb.n_bins)))
                   * LN((CAST(g.cs + 1 AS DOUBLE) / (g.ns + nb.n_bins))
                        / (CAST(ba.cb + 1 AS DOUBLE)
                           / (nbase.nt + nb.n_bins))),
                   9) AS DECIMAL(28,12)) AS term
        FROM grid g
        JOIN base ba ON ba.bin = g.bin
        CROSS JOIN nbase CROSS JOIN nb
    )
    SELECT source, CAST(ns AS BIGINT) AS n_docs,
           CAST(SUM(term) AS DOUBLE) AS psi
    FROM terms GROUP BY source, ns
    """,
)
def source_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift audit per source (the binned
    complement to source_drift_ks's rank-exact test): document-length
    distributions in fixed 32-char bins, Laplace-smoothed against the
    corpus baseline, PSI = Σ (p_src − p_base)·ln(p_src/p_base) with
    round-9 decimal term accumulation so the statistic is hash-exact.
    Scale shape: two count aggregates over (source × bins ≤ a few
    hundred rows), a broadcast-sized grid join, one grouped sum — no
    per-document state survives the first aggregate."""

    d = _t(spark, sf_dir, "documents")
    binned = d.select(
        "source", F.floor(F.length("text") / _PSI_BIN_W).alias("bin")
    )
    bins = binned.select("bin").distinct()
    nb = bins.agg(F.count(F.lit(1)).alias("n_bins"))
    base = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cb"))
    nbase = binned.agg(F.count(F.lit(1)).alias("nt"))
    src = binned.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("cs"))
    nsrc = binned.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    grid = (
        nsrc.crossJoin(F.broadcast(bins))
        .join(src, ["source", "bin"], "left")
        .select(
            "source", "bin", "ns", F.coalesce(F.col("cs"), F.lit(0)).alias("cs")
        )
    )
    ps = (F.col("cs") + 1).cast("double") / (F.col("ns") + F.col("n_bins"))
    pb = (F.col("cb") + 1).cast("double") / (F.col("nt") + F.col("n_bins"))
    terms = (
        grid.join(F.broadcast(base), "bin")
        .crossJoin(F.broadcast(nbase))
        .crossJoin(F.broadcast(nb))
        .select(
            "source",
            "ns",
            F.round((ps - pb) * F.log(ps / pb), 9)
            .cast("decimal(28,12)")
            .alias("term"),
        )
    )
    return terms.groupBy("source", "ns").agg(
        F.sum("term").cast("double").alias("psi")
    ).select(
        "source", F.col("ns").cast("long").alias("n_docs"), "psi"
    )


_RAKE_STOPS = "['the','a','and','of','to','in','is','it','that','for']"


@register(
    "doc_rake_keyphrases",
    oracle=rf"""
    WITH pos AS (
        SELECT doc_id, i, t[i] AS tok,
               list_contains({_RAKE_STOPS}, t[i]) AS is_stop
        FROM (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS t
            FROM documents
        ), UNNEST(range(1, len(t) + 1)) AS u(i)
    ), seg AS (
        SELECT doc_id, i, tok, is_stop,
               SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY i
               ) AS phrase_id
        FROM pos
    ), phrase_words AS (
        SELECT doc_id, phrase_id, i, tok FROM seg WHERE NOT is_stop
    ), phrases AS (
        SELECT doc_id, phrase_id,
               string_agg(tok, ' ' ORDER BY i) AS phrase,
               COUNT(*) AS plen
        FROM phrase_words GROUP BY doc_id, phrase_id
    ), wordstats AS (
        SELECT pw.tok, COUNT(*) AS freq,
               CAST(SUM(p.plen) AS BIGINT) AS degree
        FROM phrase_words pw
        JOIN phrases p ON p.doc_id = pw.doc_id
                      AND p.phrase_id = pw.phrase_id
        GROUP BY pw.tok
    ), inst AS (
        SELECT p.doc_id, p.phrase_id, p.phrase,
               SUM(CAST(ROUND(CAST(w.degree AS DOUBLE) / w.freq, 9)
                   AS DECIMAL(28,12))) AS inst_score
        FROM phrases p
        JOIN phrase_words pw ON pw.doc_id = p.doc_id
                            AND pw.phrase_id = p.phrase_id
        JOIN wordstats w ON w.tok = pw.tok
        GROUP BY p.doc_id, p.phrase_id, p.phrase
    ), dist AS (
        SELECT phrase, COUNT(*) AS n_occurrences,
               CAST(MIN(inst_score) AS DOUBLE) AS score
        FROM inst GROUP BY phrase
    )
    SELECT phrase, n_occurrences, score
    FROM dist ORDER BY score DESC, phrase LIMIT 20
    """,
)
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal non-stopword runs (segmented by a per-document running
    stopword count — a bounded window, one shuffle keyed on doc), each
    word scored degree/frequency over the corpus, each phrase scored as
    the decimal-summed word scores (round-9 terms, so the sum is
    order-free and hash-exact; identical phrase text always carries the
    identical score, pinned by taking MIN over instances). Corpus-level
    top-20. The keyword-extraction face next to TF-IDF and BM25: RAKE
    needs no query and no IDF table — the degree/freq ratio rewards
    words that live in long phrases."""
    from pyspark.sql import Window as W

    d = _t(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(X.tokens("text")).alias("i0", "tok")
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        "tok",
        F.col("tok").isin(*X.STOPWORDS["en"]).alias("is_stop"),
    )
    seg_w = W.partitionBy("doc_id").orderBy("i")
    seg = pos.withColumn(
        "phrase_id",
        F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(seg_w),
    )
    pw_ = seg.where(~F.col("is_stop")).select("doc_id", "phrase_id", "i", "tok")
    phrases = pw_.groupBy("doc_id", "phrase_id").agg(
        F.concat_ws(
            " ", F.transform(F.array_sort(F.collect_list(F.struct("i", "tok"))),
                             lambda e: e["tok"])
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    wordstats = (
        pw_.join(phrases, ["doc_id", "phrase_id"])
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
    )
    inst = (
        phrases.join(pw_, ["doc_id", "phrase_id"])
        .join(F.broadcast(wordstats), "tok")
        .groupBy("doc_id", "phrase_id", "phrase")
        .agg(
            F.sum(
                F.round(F.col("degree").cast("double") / F.col("freq"), 9)
                .cast("decimal(28,12)")
            ).alias("inst_score")
        )
    )
    dist = inst.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("inst_score").cast("double").alias("score"),
    )
    return dist.orderBy(F.col("score").desc(), "phrase").limit(20)


# Phrase-search probes: two bigrams, one repeated-token bigram (the case
# that breaks naive distinct-offset counting), one trigram.
_PHRASES = [
    ("p_table_part", "table part"),
    ("p_fast_table", "fast table"),
    ("p_repeat", "table table"),
    ("p_tri", "value table part"),
]
_PHRASE_Q_VALUES = ", ".join(
    f"('{pid}', '{term}', {off})"
    for pid, ptext in _PHRASES
    for off, term in enumerate(ptext.split())
)
_PHRASE_LEN_VALUES = ", ".join(
    f"('{pid}', {len(ptext.split())})" for pid, ptext in _PHRASES
)


@register(
    "doc_phrase_search",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS term,
               UNNEST(range(len(string_split_regex(trim(lower(text)), '\s+'))))
                   AS pos
        FROM documents
    ), q(phrase_id, term, off) AS (
        VALUES {_PHRASE_Q_VALUES}
    ), plen(phrase_id, plen) AS (
        VALUES {_PHRASE_LEN_VALUES}
    ), starts AS (
        SELECT q.phrase_id, toks.doc_id, toks.pos - q.off AS start
        FROM toks JOIN q ON toks.term = q.term
    ), occ AS (
        SELECT phrase_id, doc_id, start, COUNT(*) AS nm
        FROM starts GROUP BY 1, 2, 3
    ), hits AS (
        SELECT o.phrase_id, o.doc_id, COUNT(*) AS n_occ
        FROM occ o JOIN plen p ON p.phrase_id = o.phrase_id
        WHERE o.nm = p.plen
        GROUP BY 1, 2
    ), ranked AS (
        SELECT phrase_id, doc_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY phrase_id ORDER BY n_occ DESC, doc_id
               ) AS INTEGER) AS rank,
               n_occ
        FROM hits
    )
    SELECT phrase_id, doc_id, rank, n_occ FROM ranked WHERE rank <= 10
    """,
)
def doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-inverted-index PHRASE search (operators/text.py::
    phrase_search): exact adjacency retrieval — the capability bag-of-
    words BM25 cannot express — via the one-join spelling: posexplode
    postings join a broadcast (phrase, term, offset) table, and a
    candidate start position is a true occurrence iff ALL phrase offsets
    matched there (count == L, correct for repeated-token phrases like
    'table table'). Top-10 docs per phrase by occurrence count,
    hash-exact against the identical spelling in DuckDB. Probes include
    a trigram and a repeated-token bigram."""
    return X.phrase_search(
        _t(spark, sf_dir, "documents"), _PHRASES, "text", "doc_id", k=10
    )


@register(
    "corpus_zipf_fit",
    oracle=r"""
    WITH tok AS (
        SELECT UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS term
        FROM documents
    ), freq AS (
        SELECT term, COUNT(*) AS f FROM tok GROUP BY term
    ), ranked AS (
        SELECT term, f,
               ROW_NUMBER() OVER (ORDER BY f DESC, term) AS r
        FROM freq ORDER BY f DESC, term LIMIT 1000
    ), pts AS (
        SELECT r, f,
               ROUND(LN(CAST(r AS DOUBLE)), 9) AS x,
               ROUND(LN(CAST(f AS DOUBLE)), 9) AS y
        FROM ranked
    ), sums AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,12))) AS DOUBLE)
                   AS sxx,
               CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(28,12))) AS DOUBLE)
                   AS syy,
               CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(28,12))) AS DOUBLE)
                   AS sxy,
               MAX(CASE WHEN r = 1 THEN f END) AS top_freq
        FROM pts
    )
    SELECT n AS n_tokens, top_freq,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope,
           ((n * sxy - sx * sy) * (n * sxy - sx * sy))
               / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
    FROM sums
    """,
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary — the
    log-log-slope companion to the Heaps vocabulary-growth face (a
    healthy natural-language corpus fits slope ≈ −1; a templated or
    synthetic corpus shows up immediately in slope and R²). Least
    squares on (ln rank, ln freq) of the top-1000 tokens: the frequency
    aggregate is corpus-sized and map-side combinable, the top-1000 cut
    is vocab-bounded (TakeOrdered, per-partition heads), and the tiny
    ranked set is a deliberate single-partition window — 1000 rows, not
    a data-sized sort. Cross-engine float discipline: every LN is
    rounded to 9 decimals BEFORE products (libm last-bit differences
    die there), products rounded again, accumulated as DECIMAL(28,12) —
    slope and R² come out hash-exact."""
    from pyspark.sql import Window as W

    tok = _t(spark, sf_dir, "documents").select(
        F.explode(X.tokens("text")).alias("term")
    )
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    top = freq.orderBy(F.col("f").desc(), "term").limit(1000)
    ranked = top.withColumn(
        "r", F.row_number().over(W.orderBy(F.col("f").desc(), "term"))
    )
    pts = ranked.select(
        "r",
        "f",
        F.round(F.log(F.col("r").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("f").cast("double")), 9).alias("y"),
    )
    dsum = lambda c: F.sum(c.cast("decimal(28,12)")).cast("double")  # noqa: E731
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.round(F.col("x") * F.col("x"), 9)).alias("sxx"),
        dsum(F.round(F.col("y") * F.col("y"), 9)).alias("syy"),
        dsum(F.round(F.col("x") * F.col("y"), 9)).alias("sxy"),
        F.max(F.when(F.col("r") == 1, F.col("f"))).alias("top_freq"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        F.col("n").alias("n_tokens"),
        "top_freq",
        (num / denx).alias("zipf_slope"),
        ((num * num) / (denx * deny)).alias("r2"),
    )


@register(
    "doc_winnowing_overlap_pairs",
    oracle=f"""{_WINNOW_FP_CTE}
    , ex AS (
        SELECT doc_id, length(fps) AS n_fp, UNNEST(fps) AS f
        FROM fp WHERE length(fps) > 0
    ), hot AS (
        SELECT f FROM ex GROUP BY f HAVING COUNT(*) > 50
    ), exf AS (
        SELECT ex.* FROM ex ANTI JOIN hot ON ex.f = hot.f
    ), shared AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               a.n_fp AS n_fp_a, b.n_fp AS n_fp_b,
               COUNT(*) AS shared_fp
        FROM exf a JOIN exf b ON a.f = b.f AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT a_id, b_id,
           CAST(n_fp_a AS INTEGER) AS n_fp_a,
           CAST(n_fp_b AS INTEGER) AS n_fp_b,
           shared_fp,
           CAST(shared_fp AS DOUBLE)
               / CAST(LEAST(n_fp_a, n_fp_b) AS DOUBLE) AS overlap
    FROM shared
    WHERE CAST(shared_fp AS DOUBLE)
              / CAST(LEAST(n_fp_a, n_fp_b) AS DOUBLE) >= 0.2
    """,
)
def doc_winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style overlap detection from winnowing fingerprints — the
    plagiarism/near-copy face the fingerprint table exists for
    (Schleimer et al. 2003 §4): docs sharing selected k-gram window
    minima, scored by the overlap coefficient shared/min(|A|,|B|). Scale
    shape: the candidate join keys on the FINGERPRINT (equi-join over
    the exploded fingerprint table, never doc×doc), with stop-
    fingerprints (appearing in >50 docs — boilerplate) removed by a
    broadcast anti-join before the join can square them, the standard
    MOSS cut mirrored exactly in the oracle. Same fixed doc slice as the
    fingerprints face; the winnowing CTE is single-sourced between the
    two oracles. The whole pipeline (checkpointed fingerprint
    materialization — the interpreted-Generate rule — explode, hot-cut,
    equi-join, score) lives in
    operators/text.py::winnowing_overlap_pairs so the soak can drive it
    over the FULL replicated corpus; this face is the fixed-slice oracled
    spelling."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    return X.winnowing_overlap_pairs(
        d, k=8, w=4, portable=True, hot_df_cap=50, threshold=0.2
    )


@register(
    "search_ranking_metrics",
    oracle=rf"""
    WITH ranked AS (
        SELECT * FROM ({_BM25_ORACLE_SQL}) __bm
    ), q(query_id, term) AS (
        VALUES {_BM25_VALUES}
    ), qsize AS (
        SELECT query_id, COUNT(*) AS n_terms_q FROM q GROUP BY query_id
    ), dterms AS (
        SELECT DISTINCT doc_id,
               UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS term
        FROM documents
    ), rel AS (
        SELECT q.query_id, d.doc_id
        FROM q JOIN dterms d ON d.term = q.term
        JOIN qsize s ON s.query_id = q.query_id
        GROUP BY q.query_id, d.doc_id, s.n_terms_q
        HAVING COUNT(*) = s.n_terms_q
    ), nrel AS (
        SELECT query_id, COUNT(*) AS n_relevant FROM rel GROUP BY query_id
    ), hits AS (
        SELECT r.query_id, r.rank,
               (rel.doc_id IS NOT NULL) AS is_rel
        FROM ranked r LEFT JOIN rel
          ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
    ), per_q AS (
        SELECT h.query_id,
               CAST(SUM(CASE WHEN is_rel THEN 1 ELSE 0 END) AS BIGINT)
                   AS hits_at_10,
               COALESCE(MIN(CASE WHEN is_rel THEN rank END), 0) AS first_rel,
               CAST(SUM(CAST(CASE WHEN is_rel THEN
                   ROUND(1.0 / LOG2(CAST(rank + 1 AS DOUBLE)), 9)
               ELSE 0.0 END AS DECIMAL(28,12))) AS DOUBLE) AS dcg
        FROM hits h GROUP BY h.query_id
    ), idcg AS (
        SELECT n.query_id,
               CAST(SUM(CAST(ROUND(1.0 / LOG2(CAST(i + 1 AS DOUBLE)), 9)
                    AS DECIMAL(28,12))) AS DOUBLE) AS idcg
        FROM nrel n, UNNEST(range(1, 11)) AS t(i)
        WHERE i <= n.n_relevant
        GROUP BY n.query_id
    )
    SELECT p.query_id,
           COALESCE(n.n_relevant, 0) AS n_relevant,
           CAST(p.hits_at_10 AS DOUBLE) / 10.0 AS precision_at_10,
           CASE WHEN p.first_rel > 0
                THEN 1.0 / CAST(p.first_rel AS DOUBLE) ELSE 0.0
           END AS mrr,
           CASE WHEN i.idcg IS NOT NULL AND i.idcg > 0.0
                THEN p.dcg / i.idcg ELSE 0.0 END AS ndcg_at_10
    FROM per_q p
    LEFT JOIN nrel n ON n.query_id = p.query_id
    LEFT JOIN idcg i ON i.query_id = p.query_id
    """,
)
def search_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKING EVALUATION for the BM25 retrieval — precision@10, MRR, and
    binary NDCG@10 per query against a deterministic ground truth (a doc
    is relevant iff it contains EVERY query term — boolean-AND
    containment, computable exactly in both engines). The eval face a
    retrieval pipeline runs next to the ranker itself; the BM25 ranking
    statement is embedded verbatim (single-sourced _BM25_ORACLE_SQL, the
    RRF pattern), so ranker and judge can never desynchronize. Discount
    terms 1/log2(rank+1) round to 9 decimals before the decimal
    accumulator (the libm-absorbing recipe); IDCG truncates at
    min(R, 10) via a broadcast 10-row ladder. All shuffles key on term,
    (query, doc), or query — candidate-bounded throughout."""
    from pyspark.sql import Window as W  # noqa: F401

    d = _t(spark, sf_dir, "documents")
    ranked = X.bm25_topk(d, _BM25_QUERIES, k=10, k1=_BM25_K1, b=_BM25_B)
    q = spark.createDataFrame(
        sorted({(qid, t) for qid, qtext in _BM25_QUERIES for t in qtext.split()}),
        "query_id string, term string",
    )
    qsize = q.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms_q"))
    dterms = d.select(
        "doc_id", F.explode(X.tokens("text")).alias("term")
    ).distinct()
    # NOT checkpointed (r14, measured): rel feeds two consumers, but an
    # interleaved A/B read wall floor 3.95 -> 16.8s with an eager
    # checkpoint here (CPU 57.9 -> 53.1: the replay IS avoided, but the
    # eager job serializes the whole build while the lazy twin overlaps
    # its two consumers across the session's idle cores — a 4x wall loss
    # for an 8% CPU win). The double distinct-explode is the accepted
    # local cost; at scale the ground-truth join mass, not this replay,
    # dominates the face.
    rel = (
        q.join(dterms, "term")
        .join(F.broadcast(qsize), "query_id")
        .groupBy("query_id", "doc_id", "n_terms_q")
        .agg(F.count(F.lit(1)).alias("nm"))
        .where(F.col("nm") == F.col("n_terms_q"))
        .select("query_id", "doc_id")
    )
    nrel = rel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_relevant"))
    hits = ranked.join(
        rel.withColumn("is_rel", F.lit(True)), ["query_id", "doc_id"], "left"
    ).select(
        "query_id", "rank", F.coalesce("is_rel", F.lit(False)).alias("is_rel")
    )
    per_q = hits.groupBy("query_id").agg(
        F.sum(F.when(F.col("is_rel"), 1).otherwise(0))
        .cast("long")
        .alias("hits_at_10"),
        F.coalesce(
            F.min(F.when(F.col("is_rel"), F.col("rank"))), F.lit(0)
        ).alias("first_rel"),
        F.sum(
            F.when(
                F.col("is_rel"),
                F.round(
                    F.lit(1.0) / F.log2((F.col("rank") + 1).cast("double")), 9
                ),
            )
            .otherwise(F.lit(0.0))
            .cast("decimal(28,12)")
        )
        .cast("double")
        .alias("dcg"),
    )
    ladder = spark.range(1, 11).select(F.col("id").alias("i"))
    idcg = (
        nrel.crossJoin(F.broadcast(ladder))
        .where(F.col("i") <= F.col("n_relevant"))
        .groupBy("query_id")
        .agg(
            F.sum(
                F.round(
                    F.lit(1.0) / F.log2((F.col("i") + 1).cast("double")), 9
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("idcg")
        )
    )
    return (
        per_q.join(nrel, "query_id", "left")
        .join(idcg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_relevant", F.lit(0).cast("long")).alias("n_relevant"),
            (F.col("hits_at_10").cast("double") / 10.0).alias(
                "precision_at_10"
            ),
            F.when(
                F.col("first_rel") > 0,
                F.lit(1.0) / F.col("first_rel").cast("double"),
            )
            .otherwise(0.0)
            .alias("mrr"),
            F.when(
                F.col("idcg").isNotNull() & (F.col("idcg") > 0.0),
                F.col("dcg") / F.col("idcg"),
            )
            .otherwise(0.0)
            .alias("ndcg_at_10"),
        )
    )


@register(
    "corpus_datacard",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, source, lang, n_chars,
               length(string_split_regex(trim(lower(text)), '\s+')) AS n_tok,
               md5(text) AS dg
        FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           COUNT(DISTINCT source) AS n_sources,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
           CASE WHEN COUNT(*) > 0
                THEN 1.0 - CAST(COUNT(DISTINCT dg) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE) END
               AS exact_dup_rate,
           CAST(MIN(n_tok) AS BIGINT) AS min_doc_tokens,
           CAST(MAX(n_tok) AS BIGINT) AS max_doc_tokens
    FROM tok
    """,
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DATA CARD — the one-row governance summary a dataset
    release ships with (docs, token and char mass, source and language
    diversity, exact-duplicate rate, length envelope), computed in ONE
    scan + one aggregate with three distinct-counts (at 100 TB, swap the
    distincts for the KMV/HLL faces this catalog already gates — the
    docstring-level contract between the exact and sketch families).
    Every number is an exact integer except the one dup-rate division."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        "lang",
        "n_chars",
        X.token_count("text").alias("n_tok"),
        F.md5("text").alias("dg"),
    )
    return tok.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
        # guarded NULL on an empty corpus (ANSI divide-by-zero), CASE
        # WHEN mirrored in the oracle
        F.when(
            F.count(F.lit(1)) > 0,
            F.lit(1.0)
            - F.countDistinct("dg").cast("double")
            / F.count(F.lit(1)).cast("double"),
        ).alias("exact_dup_rate"),
        F.min("n_tok").cast("long").alias("min_doc_tokens"),
        F.max("n_tok").cast("long").alias("max_doc_tokens"),
    )


@register(
    "doc_readability",
    oracle=r"""
    WITH per_doc AS (
        SELECT source,
               CAST(length(string_split_regex(trim(lower(text)), '\s+'))
                   AS BIGINT) AS w,
               GREATEST(CAST(1 AS BIGINT),
                        CAST(length(regexp_extract_all(text, '[.!?]+'))
                            AS BIGINT)) AS s,
               CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
                   AS BIGINT) AS y
        FROM documents
    ), agg AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(w) AS BIGINT) AS sw,
               CAST(SUM(s) AS BIGINT) AS ss,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM per_doc GROUP BY source
    )
    SELECT source, n_docs,
           CAST(sw AS DOUBLE) / CAST(ss AS DOUBLE) AS words_per_sentence,
           CAST(sy AS DOUBLE) / CAST(sw AS DOUBLE) AS syllables_per_word,
           0.39 * (CAST(sw AS DOUBLE) / CAST(ss AS DOUBLE))
             + 11.8 * (CAST(sy AS DOUBLE) / CAST(sw AS DOUBLE))
             - 15.59 AS fk_grade,
           206.835 - 1.015 * (CAST(sw AS DOUBLE) / CAST(ss AS DOUBLE))
             - 84.6 * (CAST(sy AS DOUBLE) / CAST(sw AS DOUBLE))
               AS flesch_ease
    FROM agg
    """,
)
def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid readability per source — the classic text-quality
    screen next to the Gopher rules and char-entropy faces (pre-training
    curricula routinely window on grade level). Syllables use the
    standard vowel-group heuristic (runs of [aeiouy]), sentences are
    [.!?]+ runs floored at one, words are the shared whitespace
    tokenizer — three exact per-doc integers, so the per-source sums are
    BIGINTs and grade/ease reduce to ratio-of-sums in one mirrored double
    expression (the aggregate-readability form: corpus FK from ΣW/ΣS and
    ΣY/ΣW, no order-sensitive float accumulation anywhere). One scan,
    one keyed groupBy; the regexes are codegen'd JVM expressions."""
    d = _t(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        X.token_count("text").cast("long").alias("w"),
        F.greatest(
            F.lit(1).cast("long"),
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("long"),
        ).alias("s"),
        F.regexp_count(X.casefolded(F.col("text")), F.lit("[aeiouy]+"))
        .cast("long")
        .alias("y"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("sw"),
        F.sum("s").alias("ss"),
        F.sum("y").alias("sy"),
    )
    wps = F.col("sw").cast("double") / F.col("ss").cast("double")
    spw = F.col("sy").cast("double") / F.col("sw").cast("double")
    return agg.select(
        "source",
        "n_docs",
        wps.alias("words_per_sentence"),
        spw.alias("syllables_per_word"),
        (
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
        ).alias("fk_grade"),
        (
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
        ).alias("flesch_ease"),
    )


@register(
    "doc_lexical_richness",
    oracle=r"""
    WITH toks AS (
        SELECT source,
               UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents
    ), freq AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
        FROM toks GROUP BY source, tok
    ), agg AS (
        SELECT source,
               CAST(SUM(f) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS v,
               CAST(COUNT(CASE WHEN f = 1 THEN 1 END) AS BIGINT) AS v1,
               CAST(SUM(f * f) AS BIGINT) AS f2
        FROM freq GROUP BY source
    )
    SELECT source, n AS n_tokens, v AS vocab, v1 AS hapax,
           CAST(v AS DOUBLE) / CAST(n AS DOUBLE) AS ttr,
           CAST(v1 AS DOUBLE) / CAST(v AS DOUBLE) AS hapax_frac,
           10000.0 * (CAST(f2 AS DOUBLE) - CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS yule_k
    FROM agg
    """,
)
def doc_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness profile per source: type-token ratio, hapax
    fraction, and Yule's K (the repetitiveness characteristic
    10⁴·(Σf²−N)/N², scale-invariant where raw TTR is not) — the
    vocabulary-side quality signals a corpus curator reads next to
    Zipf/Heaps fits when deciding whether a source is template spam.
    Sufficient statistics are all exact BIGINTs off one token-frequency
    table (N=Σf, V, V1, Σf²), so the three ratios are single mirrored
    double expressions. Scale shape: explode → one keyed groupBy on
    (source, token) → per-source re-aggregate; the frequency table is
    vocabulary-sized, never corpus-sized."""
    d = _t(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    agg = freq.groupBy("source").agg(
        F.sum("f").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.count(F.when(F.col("f") == 1, 1)).alias("v1"),
        F.sum(F.col("f") * F.col("f")).alias("f2"),
    )
    nd = F.col("n").cast("double")
    return agg.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab"),
        F.col("v1").alias("hapax"),
        (F.col("v").cast("double") / nd).alias("ttr"),
        (F.col("v1").cast("double") / F.col("v").cast("double")).alias(
            "hapax_frac"
        ),
        (
            F.lit(10000.0) * (F.col("f2").cast("double") - nd) / (nd * nd)
        ).alias("yule_k"),
    )


@register(
    "corpus_mixture_weights",
    oracle=r"""
    WITH per_src AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(string_split_regex(trim(lower(text)), '\s+')))
                   AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS t,
               CAST(COUNT(CASE WHEN source NOT IN ('src0','src1','src2')
                          THEN 1 END) AS BIGINT) AS n_other
        FROM per_src
    ), sh AS (
        SELECT p.source, p.n_docs, p.n_tokens,
               CAST(p.n_tokens AS DOUBLE) / CAST(tot.t AS DOUBLE)
                   AS actual_share,
               CASE p.source
                   WHEN 'src0' THEN 0.15
                   WHEN 'src1' THEN 0.10
                   WHEN 'src2' THEN 0.08
                   ELSE 0.67 / CAST(tot.n_other AS DOUBLE)
               END AS target_share
        FROM per_src p CROSS JOIN tot
    ), wts AS (
        SELECT source, n_docs, n_tokens, actual_share, target_share,
               target_share / actual_share AS raw_weight,
               LEAST(target_share / actual_share, 4.0) AS capped_weight,
               CAST(ROUND(LEAST(target_share / actual_share, 4.0)
                          * actual_share, 12) AS DECIMAL(28,12)) AS mass
        FROM sh
    )
    SELECT source, n_docs, n_tokens, actual_share, target_share,
           raw_weight, capped_weight,
           CAST(mass AS DOUBLE)
               / CAST((SELECT CAST(SUM(mass) AS DECIMAL(38,12)) FROM wts)
                      AS DOUBLE) AS achieved_share,
           capped_weight < raw_weight AS starved
    FROM wts
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture SOLVER — the step between "measure the corpus" and
    "sample the corpus" in a pre-training pipeline (doc_weighted_mix
    APPLIES per-source rates; this face COMPUTES them): token-mass shares
    per source, a target mixture (named heavy sources + uniform
    remainder), raw upsampling weight target/actual, an epoch cap at 4.0
    (never repeat a source more than 4×, the standard repetition-harm
    guard), and the ACHIEVED post-cap mixture with a starved flag where
    the cap binds. Per-source token masses are exact BIGINTs; the
    achieved-share renormalization rounds each capped mass to 12 decimals
    into DECIMAL(28,12) so the (sources-sized) total is
    aggregation-order-proof. One scan + one keyed groupBy; everything
    downstream runs on a #sources-row frame."""
    d = _t(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count("text").cast("long")).alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").alias("t"),
        F.count(
            F.when(~F.col("source").isin("src0", "src1", "src2"), 1)
        ).alias("n_other"),
    )
    sh = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("t").cast("double")).alias(
            "actual_share"
        ),
        F.when(F.col("source") == "src0", F.lit(0.15))
        .when(F.col("source") == "src1", F.lit(0.10))
        .when(F.col("source") == "src2", F.lit(0.08))
        .otherwise(F.lit(0.67) / F.col("n_other").cast("double"))
        .alias("target_share"),
    )
    raw = F.col("target_share") / F.col("actual_share")
    wts = sh.select(
        "source",
        "n_docs",
        "n_tokens",
        "actual_share",
        "target_share",
        raw.alias("raw_weight"),
        F.least(raw, F.lit(4.0)).alias("capped_weight"),
        F.round(F.least(raw, F.lit(4.0)) * F.col("actual_share"), 12)
        .cast("decimal(28,12)")
        .alias("mass"),
    )
    mass_tot = wts.agg(
        F.sum("mass").cast("decimal(38,12)").alias("mt")
    )
    return wts.crossJoin(F.broadcast(mass_tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "actual_share",
        "target_share",
        "raw_weight",
        "capped_weight",
        (F.col("mass").cast("double") / F.col("mt").cast("double")).alias(
            "achieved_share"
        ),
        (F.col("capped_weight") < F.col("raw_weight")).alias("starved"),
    )


@register(
    "kmeans_silhouette",
    oracle=_KMEANS2_CTES
    + """
    , scored2 AS (
      SELECT v.vec_id, c.label,
             ROUND(list_cosine_similarity(v.emb, c.cent), 9) AS rcos
      FROM v, cent1 c
    ), own AS (
      SELECT s.vec_id, s.rcos
      FROM scored2 s JOIN a2 ON a2.vec_id = s.vec_id AND a2.assigned = s.label
    ), other AS (
      SELECT s.vec_id, MAX(s.rcos) AS mo
      FROM scored2 s JOIN a2 ON a2.vec_id = s.vec_id AND s.label <> a2.assigned
      GROUP BY s.vec_id
    ), sil AS (
      SELECT a2.assigned AS cluster,
             CAST(ROUND(
                 CASE WHEN GREATEST(1.0 - own.rcos, 1.0 - other.mo) > 0.0
                      THEN ((1.0 - other.mo) - (1.0 - own.rcos))
                           / GREATEST(1.0 - own.rcos, 1.0 - other.mo)
                      ELSE 0.0 END, 9) AS DECIMAL(28,9)) AS s
      FROM a2 JOIN own ON own.vec_id = a2.vec_id
              JOIN other ON other.vec_id = a2.vec_id
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(CAST(SUM(s) AS DECIMAL(38,9)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mean_silhouette
    FROM sil GROUP BY cluster
    """,
)
def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette — the CLUSTER-QUALITY judge for the
    k-means face (is k=8 actually separating the embedding space?): per
    vector, a = cosine distance to its own centroid, b = distance to the
    nearest OTHER centroid, s = (b−a)/max(a,b); per-cluster mean s is the
    standard "how tight vs how confusable" readout (simplified/centroid
    silhouette — the O(n·k) form; the classic O(n²) pairwise definition
    can't survive corpus scale). Centroids and assignments are the shared
    two-iteration Lloyd recipe (_KMEANS2_CTES — same seeding, same
    decimal-exact centroid means), so the oracle unrolls exactly.
    Cosines are rounded to 9 decimals BEFORE the silhouette arithmetic
    (both engines agree at 9dp; rounding first makes the downstream
    doubles bit-identical), each s re-rounds to 9dp into DECIMAL(28,9)
    for order-proof per-cluster means. Scale: one broadcast-centroid scan
    (n×k scored rows, argmax partial-combined map-side) + keyed joins on
    vec_id."""
    from polars_numba_spark.operators.vector import (
        assign_nearest_centroid,
        kmeans_iterations,
    )
    from polars_numba_spark.operators.similarity import norm
    from polars_numba_spark.operators.vector import as_double

    e = _t(spark, sf_dir, "embeddings")
    _, cent1 = kmeans_iterations(e, k=8, iterations=1)
    # NOT checkpointed (r14, measured): a2 feeds three consumers and scored
    # two, but an interleaved A/B read identical CPU floors (21.8 = 21.8)
    # with the checkpoints and a 2x WORSE wall floor (3.31 -> 6.81s) —
    # eagerly materializing scored serializes the n x k rows WITH their
    # 64-dim centroid vectors, which costs more than the replays it saves.
    a2 = assign_nearest_centroid(e, cent1).select("vec_id", "assigned")
    c = cent1.select(
        F.col("label").alias("__cid"), as_double("centroid").alias("__cv")
    ).withColumn("__cn", norm(F.col("__cv")))
    scored = S._pair_cosine(
        e.select("vec_id", as_double("embedding").alias("__v"))
        .withColumn("__vn", norm(F.col("__v")))
        .crossJoin(F.broadcast(c))
        .select("vec_id", "__cid", "__v", "__cv", "__vn", "__cn"),
        "__v", "__cv", "__vn", "__cn", out_col="rcos",
    ).withColumn("rcos", F.round(F.col("rcos"), 9))
    own = scored.join(
        a2,
        (scored.vec_id == a2.vec_id) & (scored.__cid == a2.assigned),
    ).select(a2.vec_id.alias("o_id"), F.col("rcos").alias("own_r"))
    other = (
        scored.join(
            a2,
            (scored.vec_id == a2.vec_id) & (scored.__cid != a2.assigned),
        )
        .groupBy(a2.vec_id.alias("t_id"))
        .agg(F.max("rcos").alias("mo"))
    )
    a_dist = F.lit(1.0) - F.col("own_r")
    b_dist = F.lit(1.0) - F.col("mo")
    s = F.when(
        F.greatest(a_dist, b_dist) > 0.0,
        (b_dist - a_dist) / F.greatest(a_dist, b_dist),
    ).otherwise(F.lit(0.0))
    sil = (
        a2.join(own, a2.vec_id == F.col("o_id"))
        .join(other, a2.vec_id == F.col("t_id"))
        .select(
            F.col("assigned").alias("cluster"),
            F.round(s, 9).cast("decimal(28,9)").alias("s"),
        )
    )
    return sil.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        (
            F.sum("s").cast("decimal(38,9)").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_silhouette"),
    )


@register(
    "embedding_centroid_classify",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb,
             CAST(CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)
                      || '#cc'), 1, 15)) AS UBIGINT) AS BIGINT) % 5 AS fold
      FROM embeddings
    ), train AS (
      SELECT * FROM v WHERE fold <> 0
    ), test AS (
      SELECT * FROM v WHERE fold = 0
    ), dims AS (
      SELECT t.label, d.i - 1 AS dim, d.x
      FROM train t,
           LATERAL (SELECT UNNEST(t.emb) AS x,
                           generate_subscripts(t.emb, 1) AS i) d
    ), cent AS (
      SELECT label, list(mean ORDER BY dim) AS cent FROM (
        SELECT label, dim,
               ROUND(CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                     / COUNT(*), 9) AS mean
        FROM dims GROUP BY label, dim
      ) GROUP BY label
    ), pred AS (
      SELECT vec_id, true_label, label AS predicted FROM (
        SELECT t.vec_id, t.label AS true_label, c.label,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                   ORDER BY list_cosine_similarity(t.emb, c.cent) DESC,
                            c.label) AS rn
        FROM test t, cent c
      ) WHERE rn = 1
    )
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(predicted AS BIGINT) AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM pred GROUP BY true_label, predicted
    """,
)
def embedding_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification with a held-out split —
    the cheapest embedding-quality probe a pipeline runs before training
    anything: md5-deterministic 80/20 split, per-label mean centroid from
    TRAIN only (the decimal-exact group_centroids recipe shared with
    k-means and label_centroids), argmax-cosine prediction on TEST, and
    the full confusion matrix as (true_label, predicted, n) rows — the
    diagonal is accuracy, off-diagonals name the confusable classes. A
    LEAKAGE-SAFE eval by construction: centroids never see a test vector
    (the doc_leakage_safe_split discipline applied to embeddings). Scale:
    centroid training is one exploded keyed aggregate over train; scoring
    is one broadcast-centroid scan over test with map-side argmax."""
    from polars_numba_spark.operators.dedup import md5_long
    from polars_numba_spark.operators.vector import (
        assign_nearest_centroid,
        group_centroids,
    )

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "fold",
        F.pmod(
            md5_long(F.concat(F.col("vec_id").cast("string"), F.lit("#cc"))),
            F.lit(5),
        ),
    )
    train = e.where(F.col("fold") != 0)
    test = e.where(F.col("fold") == 0)
    cents = group_centroids(
        train.select("label", "embedding"), "embedding", "label"
    ).select("label", "centroid")
    pred = assign_nearest_centroid(test, cents).select(
        "vec_id", F.col("assigned").alias("predicted")
    )
    return (
        test.select("vec_id", F.col("label").alias("true_label"))
        .join(pred, "vec_id")
        .groupBy("true_label", "predicted")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .select(
            F.col("true_label").cast("long").alias("true_label"),
            F.col("predicted").cast("long").alias("predicted"),
            "n_vecs",
        )
    )


@register(
    "source_drift_wasserstein",
    oracle="""
    WITH v AS (
        SELECT source AS g, n_chars AS x FROM documents
        WHERE n_chars IS NOT NULL
    ), per_gv AS (
        SELECT g, x, COUNT(*) AS c FROM v GROUP BY g, x
    ), per_v AS (
        SELECT x, COUNT(*) AS call FROM v GROUP BY x
    ), totals AS (
        SELECT g, COUNT(*) AS n_g FROM v GROUP BY g
    ), na AS (
        SELECT COUNT(*) AS n_all FROM v
    ), grid AS (
        SELECT t.g, pv.x, pv.call FROM totals t CROSS JOIN per_v pv
    ), joined AS (
        SELECT grid.g, grid.x, COALESCE(pg.c, 0) AS c, grid.call
        FROM grid LEFT JOIN per_gv pg ON pg.g = grid.g AND pg.x = grid.x
    ), cum AS (
        SELECT g, x,
               SUM(c) OVER (PARTITION BY g ORDER BY x) AS cum_g,
               SUM(call) OVER (PARTITION BY g ORDER BY x) AS cum_all,
               LEAD(x) OVER (PARTITION BY g ORDER BY x) AS x_next
        FROM joined
    ), seg AS (
        SELECT c.g, t.n_g,
               CAST(ROUND(
                   ABS(CAST(cum_g AS DOUBLE) / CAST(t.n_g AS DOUBLE)
                       - CAST(cum_all AS DOUBLE)
                         / CAST((SELECT n_all FROM na) AS DOUBLE))
                   * (CAST(x_next AS DOUBLE) - CAST(x AS DOUBLE)), 9)
               AS DECIMAL(28,9)) AS seg
        FROM cum c JOIN totals t ON c.g = t.g
        WHERE x_next IS NOT NULL
    )
    SELECT g AS source, CAST(MAX(n_g) AS BIGINT) AS n_docs,
           CAST(CAST(SUM(seg) AS DECIMAL(38,9)) AS DOUBLE) AS w1
    FROM seg GROUP BY g
    """,
)
def source_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 1-Wasserstein drift of the document-length distribution
    against the whole corpus — the MAGNITUDE companion to the KS (sup) and
    PSI (binned) faces over the same stat: KS says a source drifted, W1
    says by how many characters of transported mass, the unit a
    rebalancing decision needs (operators/profile.py::wasserstein_drift;
    same integer-count CDF grid as ks_drift, per-segment |ΔCDF|·Δx rounded
    into DECIMAL(28,9))."""
    from polars_numba_spark.operators.profile import wasserstein_drift

    d = _t(spark, sf_dir, "documents")
    return wasserstein_drift(d, "n_chars", "source")


@register(
    "multimodal_mp3_meta",
    oracle="""
    WITH params AS (
        SELECT doc_id,
               1 + doc_id % 14 AS bidx,
               doc_id % 3 AS sridx,
               3 + doc_id % 5 AS n_frames
        FROM documents WHERE doc_id < 300
    ), mapped AS (
        SELECT doc_id, n_frames,
               CASE bidx WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
                         WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80
                         WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
                         WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
                         WHEN 13 THEN 256 WHEN 14 THEN 320 END AS br,
               CASE sridx WHEN 0 THEN 44100 WHEN 1 THEN 48000
                          WHEN 2 THEN 32000 END AS sr
        FROM params
    )
    SELECT doc_id,
           'audio/mpeg' AS mime,
           CAST(br AS INTEGER) AS bitrate_kbps,
           CAST(sr AS INTEGER) AS sample_rate,
           CAST(n_frames AS INTEGER) AS n_frames,
           CAST(n_frames * 1152 * 1000 // sr AS BIGINT) AS duration_ms,
           CAST(n_frames * ((144 * br * 1000) // sr) AS INTEGER) AS n_bytes
    FROM mapped
    """,
)
def multimodal_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-audio decoding through the hard gate — the fourth
    container format beside PNG/JPEG/GIF, WAV and MP4: genuine CBR MPEG-1
    Layer III streams are synthesized in-plan (true 4-byte sync headers,
    ISO 11172-3 bitrate/sample-rate index tables, spec frame length
    144·bitrate/rate), then the frame-walking parser must recover bitrate
    / sample rate / frame count FROM THE SYNC HEADERS — each hop
    re-validates the sync word, so a wrong frame-length computation
    desynchronizes and truncates the count, and the oracle re-derives
    every embedded value arithmetically. (Huffman main-data decode needs
    an audio codec absent here; header/frame accounting is the honest
    corpus-stats core — duration/bitrate audits at 100 TB must not decode
    audio. operators/multimodal.py::decode_mp3_frames.)"""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    with_payload = d.select(
        "doc_id",
        M.synthesize_mp3_payload(
            (F.lit(1) + F.col("doc_id") % 14).cast("int"),
            (F.col("doc_id") % 3).cast("int"),
            (F.lit(3) + F.col("doc_id") % 5).cast("int"),
        ).alias("payload"),
    )
    return M.extract_mp3_meta(with_payload)


@register(
    "doc_encoding_sanity",
    oracle=r"""
    WITH injected AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 7 = 0
                    THEN text || chr(65533) || chr(8) || chr(65533)
                    ELSE text END AS t
        FROM documents
    ), per_doc AS (
        SELECT source,
               CAST(length(regexp_extract_all(t,
                   '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS ctrl,
               CAST(length(regexp_extract_all(t, chr(65533))) AS BIGINT)
                   AS repl,
               CAST(length(t) AS BIGINT) AS n_chars
        FROM injected
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN ctrl + repl > 0 THEN 1 END) AS BIGINT)
               AS n_flagged,
           CAST(SUM(ctrl) AS BIGINT) AS ctrl_chars,
           CAST(SUM(repl) AS BIGINT) AS replacement_chars,
           1.0 - CAST(COUNT(CASE WHEN ctrl + repl > 0 THEN 1 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS clean_frac
    FROM per_doc GROUP BY source
    """,
)
def doc_encoding_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-sanity audit — the mojibake/control-character screen that
    runs before any tokenizer sees a crawl (U+FFFD replacement chars mean
    a decoder already lost bytes; C0 controls mean binary leaked into
    text): per-source flagged-doc counts, total control / replacement
    characters, and the clean fraction. The synthetic corpus is clean, so
    the face INJECTS deterministic damage into every 7th document and
    both engines must find exactly that damage — the same
    hard-gate-by-injection recipe as doc_pii_scrub. Tab/CR/LF are
    deliberately NOT flagged (legitimate whitespace). Pure codegen'd
    regex counts over one scan + one keyed groupBy."""
    d = _t(spark, sf_dir, "documents")
    t = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit("�\x08�"),
        ),
    ).otherwise(F.col("text"))
    per_doc = d.select(
        "source",
        F.regexp_count(t, F.lit(r"[\x00-\x08\x0B\x0C\x0E-\x1F]"))
        .cast("long")
        .alias("ctrl"),
        F.regexp_count(t, F.lit("�")).cast("long").alias("repl"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("ctrl") + F.col("repl") > 0, 1)).alias(
            "n_flagged"
        ),
        F.sum("ctrl").alias("ctrl_chars"),
        F.sum("repl").alias("replacement_chars"),
        (
            F.lit(1.0)
            - F.count(F.when(F.col("ctrl") + F.col("repl") > 0, 1)).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("clean_frac"),
    )
