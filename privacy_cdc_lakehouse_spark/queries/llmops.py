"""LLM-data-pipeline queries: dedup, similarity, text analysis, multimodal.

The fixture corpus has no natural duplicates, so dedup queries run over
a *deterministically augmented* corpus built identically on both
engines: original docs ∪ exact copies (doc_id%10==0, id+1_000_000) ∪
near-dup copies with a perturbed tail (doc_id%7==0, id+2_000_000).
This exercises the operators against known-positive pairs while
remaining fully DuckDB-oracle-checkable.

Portability rules that make hash-matching possible:
- all content hashing is md5 hex (identical in Spark and DuckDB);
- float similarity scores are rounded to 6 dp on both sides;
- integer-ratio divisions (jaccard, stopword ratios) are exact doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.operators import curation as cur
from privacy_cdc_lakehouse_spark.operators import dedup as dd
from privacy_cdc_lakehouse_spark.operators import multimodal as mm
from privacy_cdc_lakehouse_spark.operators import similarity as sim
from privacy_cdc_lakehouse_spark.operators import text as tx
from privacy_cdc_lakehouse_spark.operators.util import checkpoint_df
from privacy_cdc_lakehouse_spark.session import pin_utc
from privacy_cdc_lakehouse_spark.sources.fixtures import load_table

NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = NUM_PERM // BANDS
NEAR_DUP_TAIL = " near dup tail marker"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _augmented(docs: DataFrame) -> DataFrame:
    base = docs.select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(NEAR_DUP_TAIL)).alias("text"),
    )
    return base.unionByName(exact).unionByName(near)


_AUG_CTE = f"""
aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000, text || '{NEAR_DUP_TAIL}'
    FROM documents WHERE doc_id % 7 = 0
)
"""

# DuckDB building blocks mirroring operators/text.py and operators/dedup.py
_DUCK_WORDS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
_DUCK_SHINGLES = (
    "list_distinct(list_transform("
    "range(0, greatest(len(ws) - 3, 0) + 1), "
    "i -> array_to_string(list_slice(ws, i + 1, i + 3), ' ')))"
)


# ----------------------------- text analysis --------------------------------


def q_text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-feature aggregates per labeled language. Round 12
    (cont.): + Flesch-Kincaid readability (``tx.with_readability`` —
    pinned sentence/syllable heuristics, per-doc 6dp grades) as total
    sentence/syllable counts and the mean grade, all hash-checked."""
    pin_utc(spark)
    stats = tx.with_readability(tx.with_text_stats(_docs(spark, sf_dir)))
    return (
        stats.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
            F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
            F.sum("n_sentences").alias("total_sentences"),
            F.sum("n_syllables").alias("total_syllables"),
            F.round(F.avg("fk_grade"), 6).alias("avg_fk_grade"),
        )
        .orderBy("lang")
    )


_PUNCT_RE = "[^!-/:-@\\[-`{-~]"
_TOKEN_RE_SQL = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
_STOP_LIST = ", ".join(f"'{s}'" for s in tx._STOPWORDS)

_TEXT_STATS_SQL = f"""
WITH w AS (
    SELECT lang, text, {_DUCK_WORDS} AS ws FROM documents
),
feat AS (
    SELECT lang,
           len(ws) AS n_words,
           len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS n_tokens,
           len(list_filter(ws, x -> lower(x) IN ({_STOP_LIST}))) /
             greatest(len(ws), 1) AS stopword_ratio,
           length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) /
             greatest(length(text), 1) AS punct_ratio,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sent,
           coalesce(list_sum(list_transform(ws, x ->
               greatest(len(regexp_extract_all(lower(x), '[aeiouy]+')), 1))),
             0) AS n_syll
    FROM w
),
fk AS (
    SELECT lang, n_words, n_tokens, stopword_ratio, punct_ratio,
           n_sent, n_syll,
           round(0.39 * (greatest(n_words, 1) / n_sent)
                 + 11.8 * (n_syll / greatest(n_words, 1))
                 - 15.59, 6) AS fk_grade
    FROM feat
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(stopword_ratio), 6) AS avg_stopword_ratio,
       round(avg(punct_ratio), 6) AS avg_punct_ratio,
       CAST(sum(n_sent) AS BIGINT) AS total_sentences,
       CAST(sum(n_syll) AS BIGINT) AS total_syllables,
       round(avg(fk_grade), 6) AS avg_fk_grade
FROM fk GROUP BY lang ORDER BY lang
"""


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID vs ground-truth label: confusion counts."""
    pin_utc(spark)
    pred = tx.with_lang_id(_docs(spark, sf_dir))
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_pred")
    )


def _duck_hits(lang: str) -> str:
    vocab = ", ".join(f"'{w}'" for w in tx._LANG_MARKERS[lang])
    return f"len(list_filter(ws, x -> lower(x) IN ({vocab})))"


_LANG_ID_SQL = f"""
WITH w AS (
    SELECT lang, {_DUCK_WORDS} AS ws FROM documents
),
h AS (
    SELECT lang,
           {_duck_hits('de')} AS h_de, {_duck_hits('en')} AS h_en,
           {_duck_hits('es')} AS h_es, {_duck_hits('fr')} AS h_fr
    FROM w
),
p AS (
    SELECT lang,
           CASE
             WHEN h_de = 0 AND h_en = 0 AND h_es = 0 AND h_fr = 0 THEN 'und'
             WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
             WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
             WHEN h_en >= h_de THEN 'en'
             ELSE 'de'
           END AS lang_pred
    FROM h
)
SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""


def q_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality-score distribution (the corpus-filtering signal)."""
    pin_utc(spark)
    scored = tx.quality_score(_docs(spark, sf_dir))
    return (
        scored.groupBy(F.round("quality_score", 2).alias("quality_score"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("quality_score")
    )


_QUALITY_SQL = f"""
WITH w AS (
    SELECT text, {_DUCK_WORDS} AS ws FROM documents
),
feat AS (
    SELECT len(ws) AS n_words,
           len(list_filter(ws, x -> lower(x) IN ({_STOP_LIST}))) /
             greatest(len(ws), 1) AS stopword_ratio,
           length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) /
             greatest(length(text), 1) AS punct_ratio,
           length(regexp_replace(text, '[^0-9]', '', 'g')) /
             greatest(length(text), 1) AS digit_ratio
    FROM w
)
SELECT round(CAST(
         CASE WHEN n_words BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END
         + CASE WHEN stopword_ratio > 0.05 THEN 0.3 ELSE 0.0 END
         + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END
         + CASE WHEN digit_ratio < 0.3 THEN 0.1 ELSE 0.0 END AS DOUBLE), 2) AS quality_score,
       CAST(count(*) AS BIGINT) AS n_docs
FROM feat GROUP BY 1 ORDER BY quality_score
"""


def q_repetition_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (operators/text.py::
    repetition_stats) bucketed into per-metric decile histograms —
    floor(10·frac) is computed with the IDENTICAL IEEE double op order
    in the oracle, so every per-doc fraction is indirectly
    hash-checked (one miscomputed doc shifts a bucket count)."""
    pin_utc(spark)
    rep = tx.repetition_stats(_docs(spark, sf_dir))
    metrics = [
        "dup_word_frac",
        "dup_2gram_frac",
        "top_2gram_char_frac",
        "dup_line_frac",
        "dup_line_char_frac",
    ]
    stacked = rep.selectExpr(
        "doc_id",
        "stack(5, "
        + ", ".join(f"'{m}', {m}" for m in metrics)
        + ") as (metric, v)",
    )
    return (
        stacked.groupBy(
            "metric",
            F.floor(F.col("v") * 10).cast("long").alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
        .orderBy("metric", "bucket")
    )


_REPETITION_SQL = """
WITH w AS (
    SELECT doc_id, CAST(length(text) AS DOUBLE) AS nc,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws,
           list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
    FROM documents
),
wc AS (
    SELECT doc_id, u, count(*) AS c
    FROM (SELECT doc_id, unnest(ws) AS u FROM w) GROUP BY 1, 2
),
wstat AS (
    SELECT doc_id, sum(c) AS n_w, sum(c) - count(*) AS dup_w
    FROM wc GROUP BY 1
),
gc AS (
    SELECT doc_id, g, count(*) AS c
    FROM (
        SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
        FROM w, LATERAL (
            SELECT unnest(generate_series(1, len(ws) - 1)) AS i
        )
    ) GROUP BY 1, 2
),
gstat AS (
    SELECT doc_id, sum(c) AS n_g, sum(c) - count(*) AS dup_g
    FROM gc GROUP BY 1
),
gtop AS (
    SELECT doc_id, c * length(g) AS top_chars
    FROM (SELECT doc_id, g, c, row_number() OVER (
              PARTITION BY doc_id ORDER BY c DESC, g DESC) AS rn FROM gc)
    WHERE rn = 1
),
lc AS (
    SELECT doc_id, l, count(*) AS c, length(l) AS len
    FROM (SELECT doc_id, unnest(lines) AS l FROM w) GROUP BY doc_id, l
),
lstat AS (
    SELECT doc_id, sum(c) AS n_l, sum(c) - count(*) AS dup_l,
           sum(c * len) AS l_chars,
           sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS dup_l_chars
    FROM lc GROUP BY 1
),
rep AS (
    SELECT w.doc_id,
        CASE WHEN coalesce(n_w, 0) > 0
             THEN CAST(coalesce(dup_w, 0) AS DOUBLE) / CAST(n_w AS DOUBLE)
             ELSE 0.0 END AS dup_word_frac,
        CASE WHEN coalesce(n_g, 0) > 0
             THEN CAST(coalesce(dup_g, 0) AS DOUBLE) / CAST(n_g AS DOUBLE)
             ELSE 0.0 END AS dup_2gram_frac,
        least(1.0, CASE WHEN nc > 0
             THEN CAST(coalesce(top_chars, 0) AS DOUBLE) / nc
             ELSE 0.0 END) AS top_2gram_char_frac,
        CASE WHEN coalesce(n_l, 0) > 0
             THEN CAST(coalesce(dup_l, 0) AS DOUBLE) / CAST(n_l AS DOUBLE)
             ELSE 0.0 END AS dup_line_frac,
        CASE WHEN coalesce(l_chars, 0) > 0
             THEN CAST(coalesce(dup_l_chars, 0) AS DOUBLE)
                  / CAST(l_chars AS DOUBLE)
             ELSE 0.0 END AS dup_line_char_frac
    FROM w
    LEFT JOIN wstat USING (doc_id)
    LEFT JOIN gstat USING (doc_id)
    LEFT JOIN gtop USING (doc_id)
    LEFT JOIN lstat USING (doc_id)
),
stacked AS (
    SELECT doc_id, 'dup_word_frac' AS metric, dup_word_frac AS v FROM rep
    UNION ALL SELECT doc_id, 'dup_2gram_frac', dup_2gram_frac FROM rep
    UNION ALL SELECT doc_id, 'top_2gram_char_frac', top_2gram_char_frac FROM rep
    UNION ALL SELECT doc_id, 'dup_line_frac', dup_line_frac FROM rep
    UNION ALL SELECT doc_id, 'dup_line_char_frac', dup_line_char_frac FROM rep
)
SELECT metric, CAST(floor(v * 10) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM stacked GROUP BY 1, 2 ORDER BY metric, bucket
"""


def q_pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + per-kind audit counts over support-ticket-style
    free text assembled deterministically from REAL customer fields
    (the synthetic documents corpus contains no PII, and this
    testdata's customer table has no phone column, so email/phone/ip
    are derived from ``c_name``/``c_nationkey``/``c_custkey`` with the
    IDENTICAL expression in the oracle). The redacted text and all
    three counts are hash-checked — the regex-replace chain
    (operators/text.py::redact_pii, order email→ipv4→phone) must
    behave identically under Java regex and DuckDB's RE2 for these
    patterns (round-4: this row moves PII redaction inside the
    hash-checked wall; round-5: audit counts follow the same ordered
    chain as the redaction — the dotted-quad-also-matches-phone overlap
    is counted once, as ipv4 — and the oracle chains identically)."""
    pin_utc(spark)
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    phone = F.concat(
        F.lit("+"),
        (F.col("c_nationkey") + 10).cast("string"),
        F.lit("-"),
        F.lpad(F.col("c_custkey").cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 97).cast("string"), 4, "0"),
    )
    ticket = F.concat(
        F.col("c_name"),
        F.lit(" <"),
        F.lower(F.regexp_replace(F.col("c_name"), " ", ".")),
        F.lit("@example.com> reached support from "),
        phone,
        F.lit(" at 10."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit(".0.1"),
    )
    t = cust.select("c_custkey", ticket.alias("ticket"))
    counts = tx.pii_counts(F.col("ticket"))
    return t.select(
        "c_custkey",
        tx.redact_pii(F.col("ticket")).alias("redacted"),
        counts["email"].cast("long").alias("n_email"),
        counts["ipv4"].cast("long").alias("n_ipv4"),
        counts["phone"].cast("long").alias("n_phone"),
    ).orderBy("c_custkey")


def _pii_sql() -> str:
    e, i, p = (
        tx.PII_PATTERNS["email"],
        tx.PII_PATTERNS["ipv4"],
        tx.PII_PATTERNS["phone"],
    )
    after_email = f"regexp_replace(ticket, '{e}', '[REDACTED:email]', 'g')"
    after_ipv4 = (
        f"regexp_replace({after_email}, '{i}', '[REDACTED:ipv4]', 'g')"
    )
    red = f"regexp_replace({after_ipv4}, '{p}', '[REDACTED:phone]', 'g')"
    return f"""
WITH t AS (
    SELECT c_custkey,
           c_name || ' <' || lower(replace(c_name, ' ', '.'))
             || '@example.com> reached support from '
             || '+' || CAST(c_nationkey + 10 AS VARCHAR)
             || '-' || lpad(CAST(c_custkey AS VARCHAR), 4, '0')
             || '-' || lpad(CAST(c_custkey % 97 AS VARCHAR), 4, '0')
             || ' at 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.0.1'
             AS ticket
    FROM customer WHERE c_custkey <= 500
)
SELECT c_custkey,
       {red} AS redacted,
       CAST(len(regexp_extract_all(ticket, '{e}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all({after_email}, '{i}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all({after_ipv4}, '{p}')) AS BIGINT) AS n_phone
FROM t ORDER BY c_custkey
"""


# ----------------------------- dedup ----------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dup groups over the augmented corpus (members as a joined
    string, portable across engines) — plus, round 9, a ``winnow`` arm:
    Schleimer et al. 2003 rolling-hash winnowing fingerprints
    (``operators/dedup.py::winnow_fingerprints``, md5-hex7 28-bit
    portable hash, k=8-char grams, window=4). Each doc's full selected
    (pos, fingerprint) SET is hash-checked via an exact order-free
    digest — count + bit_xor(pos·2^28 + fingerprint) — so one wrong,
    missing or extra selection in any doc breaks that doc's row; the
    oracle replays gram hashing, the rightmost-min window rule and the
    full-window cutoff. The augmented corpus's exact copies winnow to
    byte-identical digests (positions are normalization-relative).
    The ``wpair`` arm completes the MOSS pipeline
    (``winnow_near_dups``, reusing the SAME slot-persisted sketch):
    doc pairs sharing >= 2 non-boilerplate fingerprints (max_df=10),
    every pair's shared count hash-checked against the SQL pairing
    replay."""
    pin_utc(spark)
    corpus = _augmented(_docs(spark, sf_dir))
    groups = dd.exact_duplicates(corpus)
    exact = groups.select(
        F.lit("exact").alias("kind"),
        F.col("fingerprint").alias("k"),
        F.concat_ws(
            ":",
            F.col("keeper_id").cast("string"),
            F.col("group_size").cast("string"),
            F.array_join(
                F.transform("member_ids", lambda x: x.cast("string")), ","
            ),
        ).alias("v"),
    )
    # the sketch feeds THREE consumers (the per-doc digest, the pair
    # expansion, and its own hot-fingerprint filter) — slot_persist
    # bounds it to one cached subplan instead of 3x recomputing the
    # gram hashing + window-min
    from privacy_cdc_lakehouse_spark.operators.util import slot_persist

    fps = slot_persist(
        dd.winnow_fingerprints(
            corpus,
            k=8,
            window=4,
            hash_fn=lambda c: F.conv(
                F.substring(F.md5(c), 1, 7), 16, 10
            ).cast("long"),
        ),
        "dedup_exact_winnow_fps",
    )
    win = (
        fps.select(
            "doc_id",
            (F.col("pos") * F.lit(1 << 28) + F.col("fingerprint")).alias("_c"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("string").alias("_n"),
            F.bit_xor("_c").cast("string").alias("_x"),
        )
        .select(
            F.lit("winnow").alias("kind"),
            F.col("doc_id").cast("string").alias("k"),
            F.concat_ws(":", "_n", "_x").alias("v"),
        )
    )
    wpairs = dd.winnow_near_dups(
        corpus, max_df=10, min_shared=2, fingerprints=fps
    ).select(
        F.lit("wpair").alias("kind"),
        F.concat_ws(
            ":", F.col("id_a").cast("string"), F.col("id_b").cast("string")
        ).alias("k"),
        F.col("n_shared").cast("string").alias("v"),
    )
    return exact.unionByName(win).unionByName(wpairs).orderBy("kind", "k")


def _duck_hex7(start: int) -> str:
    """SQL for int(md5-hex[start:start+7], 16) — 7 nibbles, big-endian."""
    return _duck_hexn(start, 7)


def _duck_hexn(start: int, n: int) -> str:
    """SQL for int(md5-hex[start:start+n], 16) — n nibbles, big-endian
    (n <= 15 keeps the sum inside BIGINT)."""
    terms = [
        f"(strpos('0123456789abcdef', substr(h, {start + k}, 1)) - 1) * {16 ** (n - 1 - k)}"
        for k in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


_DEDUP_EXACT_SQL = f"""
WITH {_AUG_CTE},
fp AS (
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM aug
),
nrm AS (
    SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
    FROM aug
),
wgm AS (
    SELECT doc_id, pos, md5(substr(t, CAST(pos AS INT), 8)) AS h
    FROM (
        SELECT doc_id, t, unnest(range(1, length(t) - 8 + 2)) AS pos
        FROM nrm WHERE length(t) >= 8
    )
),
wg AS (SELECT doc_id, pos, CAST({_duck_hex7(1)} AS BIGINT) AS h FROM wgm),
wng AS (SELECT doc_id, count(*) AS n FROM wg GROUP BY doc_id),
wsel AS (
    SELECT doc_id, pos,
           min(struct_pack(h := h, np := -pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
           ) AS s
    FROM wg
),
wpick AS (
    SELECT DISTINCT w.doc_id,
           -struct_extract(w.s, 'np') AS pos,
           struct_extract(w.s, 'h') AS fingerprint
    FROM wsel w JOIN wng USING (doc_id)
    WHERE w.pos <= greatest(wng.n - 4 + 1, 1)
),
wdig AS (
    SELECT doc_id, count(*) AS n,
           bit_xor(pos * 268435456 + fingerprint) AS x
    FROM wpick GROUP BY doc_id
),
wdocfp AS (SELECT DISTINCT doc_id, fingerprint FROM wpick),
wdf AS (
    SELECT fingerprint, count(*) AS df FROM wdocfp GROUP BY 1
),
wkept AS (
    SELECT d.doc_id, d.fingerprint
    FROM wdocfp d JOIN wdf USING (fingerprint) WHERE wdf.df <= 10
),
wpair AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
    FROM wkept a JOIN wkept b
      ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT 'exact' AS kind, fingerprint AS k,
       CAST(min(doc_id) AS VARCHAR) || ':' || CAST(count(*) AS VARCHAR)
         || ':' || string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS v
FROM fp GROUP BY fingerprint HAVING count(*) > 1
UNION ALL
SELECT 'winnow', CAST(doc_id AS VARCHAR),
       CAST(n AS VARCHAR) || ':' || CAST(x AS VARCHAR)
FROM wdig
UNION ALL
SELECT 'wpair', CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR),
       CAST(n_shared AS VARCHAR)
FROM wpair
ORDER BY kind, k
"""


def _duck_minhash_cols() -> str:
    # Mirrors operators/dedup.py::minhash_signatures: one md5 per
    # shingle, halves h1=hex[1:8), h2=hex[9:16), perm i = (h1+i*h2)%P.
    return ",\n           ".join(
        f"min((h1 + {seed} * h2) % {dd.MINHASH_PRIME}) AS mh_{seed}"
        for seed in range(NUM_PERM)
    )


def _duck_band_rows() -> str:
    rows = []
    for b in range(BANDS):
        cols = " || '|' || ".join(
            f"CAST(mh_{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        rows.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM mh")
    return "\n    UNION ALL\n    ".join(rows)


_MINHASH_CTE = f"""
WITH {_AUG_CTE},
w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM aug),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS shs FROM w),
ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
hx AS (SELECT doc_id, md5(s) AS h FROM ex),
hp AS (
    SELECT doc_id,
           CAST({_duck_hex7(1)} AS BIGINT) AS h1,
           CAST({_duck_hex7(9)} AS BIGINT) AS h2
    FROM hx
),
mh AS (
    SELECT doc_id,
           {_duck_minhash_cols()}
    FROM hp GROUP BY doc_id
),
bands AS (
    {_duck_band_rows()}
),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
)
"""


def q_dedup_jaccard_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard >= 0.5 over the LSH candidates (the verify
    stage of the near-dup pipeline; integer-ratio doubles are exact).
    Round 12 (cont.): ``with_containment=True`` adds the asymmetric
    Broder containments + overlap coefficient from the SAME
    intersection (zero extra joins) and widens the keep rule to
    either-measure >= 0.5 — every pair's five ratios hash-checked.
    Round 15 measured A/B: the ``shingle_col`` share-one-frame
    contract LOSES here (medians 8.0 s self-contained vs 10.4 s
    shared at sf0.1) — the verify stage semi-joins to the candidate
    doc subset (hundreds of docs), so materializing full-corpus
    shingle arrays costs more than the one small recompute it saves;
    sharing wins only when the verify touches most of the corpus
    (the allpairs gate row's regime). Kept self-contained."""
    pin_utc(spark)
    corpus = _augmented(_docs(spark, sf_dir))
    cands = dd.minhash_lsh_pairs(corpus, num_perm=NUM_PERM, bands=BANDS)
    return dd.ngram_jaccard_pairs(
        corpus, cands, threshold=0.5, with_containment=True
    ).orderBy("id_a", "id_b")


_JACCARD_SQL = _MINHASH_CTE + f"""
, jac AS (
    SELECT c.id_a, c.id_b,
           len(list_intersect(a.shs, b.shs)) AS inter,
           len(list_distinct(list_concat(a.shs, b.shs))) AS uni,
           len(a.shs) AS na, len(b.shs) AS nb
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
),
jacr AS (
    SELECT id_a, id_b,
           CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni
                ELSE 0.0 END AS jaccard,
           CASE WHEN na > 0 THEN CAST(inter AS DOUBLE) / na
                ELSE 0.0 END AS cont_a,
           CASE WHEN nb > 0 THEN CAST(inter AS DOUBLE) / nb
                ELSE 0.0 END AS cont_b,
           CASE WHEN least(na, nb) > 0
                THEN CAST(inter AS DOUBLE) / least(na, nb)
                ELSE 0.0 END AS overlap
    FROM jac
)
SELECT id_a, id_b, jaccard, cont_a, cont_b, overlap
FROM jacr
WHERE jaccard >= 0.5 OR greatest(cont_a, cont_b) >= 0.5
ORDER BY id_a, id_b
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH candidates → exact
    Jaccard verify → connected components → keeper election, over the
    augmented corpus. The iterative min-label fixpoint
    (operators/dedup.py::connected_components) is oracle-checked via a
    DuckDB ``WITH RECURSIVE`` transitive closure — min(reachable id)
    IS the converged min-label, so the driver hash-checks the exact
    component assignment and keeper flags (round-4: this row moves the
    clustering operator inside the hash-checked wall)."""
    pin_utc(spark)
    corpus = _augmented(_docs(spark, sf_dir))
    cands = dd.minhash_lsh_pairs(corpus, num_perm=NUM_PERM, bands=BANDS)
    pairs = dd.ngram_jaccard_pairs(corpus, cands, threshold=0.5)
    return dd.near_dup_keepers(corpus, pairs).orderBy("doc_id")


# WITH RECURSIVE prefixes the shared minhash CTE chain; the recursive
# member computes reachability over the symmetric verified-pair edges,
# and min(reachable) == the fixpoint the Spark loop converges to.
_CLUSTERS_SQL = _MINHASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + """
, jacc AS (
    SELECT c.id_a, c.id_b,
           len(list_intersect(a.shs, b.shs)) AS inter,
           len(list_distinct(list_concat(a.shs, b.shs))) AS uni
    FROM cand c
    JOIN sh a ON a.doc_id = c.id_a
    JOIN sh b ON b.doc_id = c.id_b
),
verified AS (
    SELECT id_a, id_b FROM jacc
    WHERE CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni ELSE 0.0 END >= 0.5
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM verified
    UNION
    SELECT id_b, id_a FROM verified
),
reach(id, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT rc.id, e.dst FROM reach rc JOIN edges e ON e.src = rc.r
),
comp AS (
    SELECT id, min(r) AS component FROM reach GROUP BY id
)
SELECT a.doc_id,
       coalesce(c.component, a.doc_id) AS component,
       coalesce(c.component, a.doc_id) = a.doc_id AS is_keeper
FROM aug a LEFT JOIN comp c ON c.id = a.doc_id
ORDER BY doc_id
"""


def q_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """28-bit SimHash with md5 bit material over the AUGMENTED corpus
    — the same Charikar sign-sum as `simhash_signatures`, every bit
    replicated in DuckDB so the full signature is value-hash-checked —
    plus (round 9) the `pair` arm completing the pipeline:
    `simhash_near_dups` bands the signature (4 × 7 bits), expands
    band-bucket candidates and verifies hamming ≤ 3 via
    ``bit_count(xor)``; the signature frame is passed through the
    `signatures` reuse hook so the sign-sum pass runs ONCE for both
    arms. The augmented corpus's exact copies verify at hamming 0.

    Round 10 adds the `edit` arm: every near-dup pair re-verified by
    exact Levenshtein distance
    (``operators/dedup.py::edit_similarity_pairs`` — the
    edit-similarity verify stage of code/training-data dedup
    pipelines), hash-checked as the raw integer distance. Texts are
    projected to printable ASCII on BOTH engines first: Spark's
    levenshtein counts codepoints while DuckDB's counts BYTES, so the
    oracle is only meaningful where the two units coincide (the
    operator itself is codepoint-correct; the projection is purely
    the cross-engine comparison contract)."""
    pin_utc(spark)
    corpus = _augmented(_docs(spark, sf_dir))
    sig = dd.simhash_portable(corpus, bits=28)
    sig_rows = sig.select(
        F.lit("sig").alias("kind"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("simhash").alias("v"),
    )
    pairs = dd.simhash_near_dups(
        corpus, bits=28, bands=4, max_hamming=3, signatures=sig
    )
    pair_rows = pairs.select(
        F.lit("pair").alias("kind"),
        F.concat_ws(":", "id_a", "id_b").alias("k"),
        F.col("hamming").alias("v"),
    )
    ascii_corpus = corpus.select(
        "doc_id", F.regexp_replace("text", "[^ -~]", "").alias("text")
    )
    edit_rows = dd.edit_similarity_pairs(pairs, ascii_corpus).select(
        F.lit("edit").alias("kind"),
        F.concat_ws(":", "id_a", "id_b").alias("k"),
        F.col("edit_distance").alias("v"),
    )
    # round 13: EXACT similarity join arm (operators/dedup.py::
    # allpairs_candidates — Bayardo et al. 2007 prefix filtering,
    # recall 1.0 by construction, composed with the standing
    # ngram_jaccard_pairs verify): every J >= 0.5 pair over the same
    # augmented corpus, hash-checked against the oracle's NAIVE
    # all-pairs replay — the strongest possible check for this
    # operator, because the prefix-filter optimization must produce
    # EXACTLY the brute-force answer. v = round(jaccard·1e6): the
    # ratio is an exact integer division, identical IEEE in both
    # engines.
    ap = dd.ngram_jaccard_pairs(
        corpus, dd.allpairs_candidates(corpus, threshold=0.5), threshold=0.5
    )
    ap_rows = ap.select(
        F.lit("ap").alias("kind"),
        F.concat_ws(":", "id_a", "id_b").alias("k"),
        F.round(F.col("jaccard") * 1e6, 0).cast("long").alias("v"),
    )
    return (
        sig_rows.unionByName(pair_rows)
        .unionByName(edit_rows)
        .unionByName(ap_rows)
        .orderBy("kind", "k")
    )


def _simhash_portable_sql(
    bits: int = 28, bands: int = 4, max_hamming: int = 3
) -> str:
    sums = ",\n           ".join(
        f"sum(CASE WHEN (h1 // {2 ** i}) % 2 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = " + ".join(f"CASE WHEN b{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(bits))
    width = bits // bands
    band_rows = "\n    UNION ALL\n    ".join(
        f"SELECT doc_id, {b} AS band, "
        f"(simhash // {2 ** (b * width)}) % {2 ** width} AS bucket FROM sigs"
        for b in range(bands)
    )
    return f"""
WITH {_AUG_CTE},
w AS (
    SELECT doc_id, unnest({_DUCK_WORDS}) AS wd FROM aug
), hx AS (
    SELECT doc_id, md5(wd) AS h FROM w
), hp AS (
    SELECT doc_id, CAST({_duck_hex7(1)} AS BIGINT) AS h1 FROM hx
), b AS (
    SELECT doc_id,
           {sums}
    FROM hp GROUP BY doc_id
),
sigs AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM b),
bnd AS (
    {band_rows}
),
scand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM bnd l JOIN bnd r
      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
),
ham AS (
    SELECT c.id_a, c.id_b,
           bit_count(xor(x.simhash, y.simhash)) AS hamming
    FROM scand c
    JOIN sigs x ON x.doc_id = c.id_a
    JOIN sigs y ON y.doc_id = c.id_b
),
nd AS (SELECT id_a, id_b, hamming FROM ham WHERE hamming <= {max_hamming}),
ed AS (
    SELECT p.id_a, p.id_b,
           levenshtein(regexp_replace(ta.text, '[^ -~]', '', 'g'),
                       regexp_replace(tb.text, '[^ -~]', '', 'g')) AS dist
    FROM nd p
    JOIN aug ta ON ta.doc_id = p.id_a
    JOIN aug tb ON tb.doc_id = p.id_b
),
-- round-13 ap arm: NAIVE all-pairs exact Jaccard >= 0.5 — the
-- brute-force answer the prefix-filtered operator must equal
apw AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM aug),
apsh AS (
    SELECT doc_id, unnest(shs) AS tok FROM (
        SELECT doc_id, {_DUCK_SHINGLES} AS shs FROM apw
    )
),
apsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s FROM apsh GROUP BY doc_id),
apj AS (
    SELECT i.id_a, i.id_b,
           CAST(i.inter AS DOUBLE) / (sa.s + sb.s - i.inter) AS jac
    FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM apsh a JOIN apsh b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ) i
    JOIN apsz sa ON sa.doc_id = i.id_a
    JOIN apsz sb ON sb.doc_id = i.id_b
)
SELECT 'sig' AS kind, CAST(doc_id AS VARCHAR) AS k, simhash AS v FROM sigs
UNION ALL
SELECT 'pair', CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR),
       CAST(hamming AS BIGINT)
FROM nd
UNION ALL
SELECT 'edit', CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR),
       CAST(dist AS BIGINT)
FROM ed
UNION ALL
SELECT 'ap', CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR),
       CAST(round(jac * 1e6, 0) AS BIGINT)
FROM apj WHERE jac >= 0.5
ORDER BY kind, k
"""


# ----------------------------- similarity -----------------------------------


def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors vec_id < 5 (broadcast
    cross-score, window top-k)."""
    pin_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.brute_force_topk(emb, queries, k=10)
    return out.select(
        "query_id",
        "rank",
        "neighbor_id",
        F.round("cos_sim", 6).alias("cos_sim_r"),
    ).orderBy("query_id", "rank")


_DOT = "list_sum(list_transform(range(1, 65), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"


def _duck_plane_list(seed: int) -> str:
    vals = sim.plane_vector(seed, 64)
    return "[" + ", ".join("1.0" if v > 0 else "-1.0" for v in vals) + "]"


def _duck_bucket_expr(vec: str, seeds: list[int]) -> str:
    """DuckDB replica of operators/similarity.lsh_bucket: concatenated
    sign bits of dot products against the same ±1 plane literals, same
    left-fold summation order (list_sum ≙ F.aggregate) — bit-for-bit."""
    bits = [
        "(CASE WHEN list_sum(list_transform(range(1, 65), "
        f"i -> CAST({vec}[i] AS DOUBLE) * ({_duck_plane_list(s)})[i])) >= 0 "
        "THEN '1' ELSE '0' END)"
        for s in seeds
    ]
    return " || ".join(bits)

_SIM_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
    SELECT query_id, neighbor_id,
           CASE WHEN nq * nc > 0 THEN dot / (nq * nc) ELSE 0.0 END AS cos_sim
    FROM (
        SELECT query_id, neighbor_id,
               {_DOT.format(a='qv', b='cv')} AS dot,
               sqrt({_DOT.format(a='qv', b='qv')}) AS nq,
               sqrt({_DOT.format(a='cv', b='cv')}) AS nc
        FROM c CROSS JOIN q
    )
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       round(cos_sim, 6) AS cos_sim_r
FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


def q_sim_pq_pruned_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC at PRODUCTION sizing — the scale-rehearsal twin of the
    hash-checked panel arm (which pins iters=0/m=4 for
    SQL-oracle-ability). Trained m=16×16-code codebook, sqrt(N)-sized
    coarse quantizer via the broadcast-join dispatch, nprobe=16: the
    configuration the 100 TB story actually runs. NOT a registry row
    (iterated k-means means are not bit-replicable cross-engine —
    same reason the ivf arm's n_hits is NULL); consumed by
    tools/bench_scale.py with plan assertions."""
    pin_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n = emb.count()
    k_coarse = max(8, int(n ** 0.5))
    return sim.pq_topk(
        emb, queries, k=10, m=16, n_codes=16, iters=1, dim=64,
        coarse_clusters=k_coarse, nprobe=max(4, k_coarse // 8),
        coarse_iters=1,
    ).orderBy("query_id", "rank")


def q_dedup_semantic_pruned_production(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup at PRODUCTION sizing — the scale-rehearsal twin of the
    ``dedup_semantic`` registry row (which pins n_clusters=8/iters=0
    for SQL-oracle-ability; the in-cell pair expansion is quadratic in
    cell size, so the fixed-8 shape is exactly what the operator's own
    docs forbid at scale). This runs ``n_clusters ~ sqrt(N)`` with a
    trained (iters=1) quantizer over the same augmented corpus — the
    configuration the 100 TB claim in
    ``operators/similarity.py::semantic_dedup`` rests on: sqrt(N)
    cells keep expected cell size at sqrt(N), so pair work stays
    ~N^1.5/k bounded instead of N². At sqrt(N) > 64 cells the argmin
    rides the broadcast-join dispatch (the literal-CASE tree would
    bottleneck Janino), which the scale gate plan-asserts. NOT a
    registry row (iterated k-means means are not bit-replicable
    cross-engine); consumed by tools/bench_scale.py with plan
    assertions, keeper-count sanity via the returned rows."""
    pin_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
    perturbed = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "v", lambda x, i: F.when(i == 0, x * 1.05).otherwise(x)
        ).alias("v"),
    )
    corpus = base.unionByName(perturbed)
    n = corpus.count()
    k = max(8, int(n ** 0.5))
    return (
        sim.semantic_dedup(
            corpus, threshold=0.99, n_clusters=k, iters=1, vec_col="v"
        )
        .groupBy("is_keeper")
        .agg(F.count("*").alias("n"), F.countDistinct("component").alias("n_components"))
        .orderBy("is_keeper")
    )


def q_mmr_rerank_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversification at PRODUCTION sizing — the scale-rehearsal
    twin of the ``sim_ann_recall`` mmr_div arm (which pins k=4 over a
    tiny candidate list for staged-CTE oracle-ability). k=10 greedy
    picks over an exact top-100 list for 20 queries against the FULL
    sf embeddings corpus (round-11 verdict task: MMR had no at-scale
    price and its plan chains one window+join per pick — now bounded
    by ``mmr_rerank``'s ``checkpoint_every``). The heavy stage is the
    sanctioned exact-ANN baseline producing the candidates; the MMR
    rounds themselves are |queries|x100-sized windows + broadcast
    1-pick joins, which is the claim the gate plan-asserts. Returns
    the picked (query, rank, doc) list plus per-query diversity —
    bounded output, rows-out asserted by the gate. NOT a registry row
    (the registry arm already hash-checks the greedy order)."""
    pin_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cands = sim.brute_force_topk(emb, queries, k=100)
    mm = sim.mmr_rerank(cands, emb, k=10, lambda_=0.75, checkpoint_every=4)
    return mm.orderBy("query_id", "mmr_rank")


def _bpe_production_dict(spark, sf_dir: str, corpus, tk):
    """Word-frequency dict for the BPE production gate rows: the
    documents word dict unioned with the distinct customer names
    (lowercased; one dict entry per name with its row count). The
    documents vocabulary alone is ~40 words and fully merges after
    ~125 rounds; the 15k digit-rich names make 256/1024-merge budgets
    meaningful while keeping the dict vocabulary-sized (~15k rows)."""
    names = (
        load_table(spark, sf_dir, "customer")
        .select(F.lower(F.col("c_name")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    return (
        tk.word_frequencies(corpus)
        .unionByName(names)
        .groupBy("word")
        .agg(F.sum("freq").alias("freq"))
    )


def q_bpe_train_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE at PRODUCTION merge sizing — the scale-rehearsal twin of
    the hash-checked registry arm (which pins 16 merges so the DuckDB
    oracle can replay the staged CTEs). 256 merges with the default
    periodic ``localCheckpoint`` of the word-frequency dict
    (``operators/tokenizer.py::bpe_train`` ``checkpoint_every``), then
    the full corpus encode through the trained vocab — pricing exactly
    the two claims the 100 TB story rests on: per-merge cost rides the
    vocab-sized dict with BOUNDED lineage (analysis time stays
    O(checkpoint_every) per round, the round-10 verdict's
    production-sizing gap), and the corpus is touched exactly twice
    (dict build + ONE encode join). NOT a registry row (the driver
    oracle cannot replay 256 staged merges); consumed by
    tools/bench_scale.py with plan assertions on the encode plan.

    The training dict is the documents word dict WIDENED with the 15k
    distinct customer names (round-12 finding: the synthetic documents
    vocabulary is ~40 words and EXHAUSTS after ~125 merges — the
    round-11 row silently trained 125, not 256; production
    vocabularies are zipf-long-tailed, and the digit-rich names give
    the merge budget real work). The gate now value-asserts
    n_merges == 256."""
    from privacy_cdc_lakehouse_spark.operators import tokenizer as tk

    pin_utc(spark)
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wf = _bpe_production_dict(spark, sf_dir, corpus, tk)
    merges, vocab = tk.bpe_train(wf, num_merges=256, checkpoint_every=32)
    enc = tk.bpe_encode(corpus, vocab)
    return enc.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 3).alias("avg_tokens"),
        F.lit(len(merges)).alias("n_merges"),
    )


def q_wordpiece_train_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece scoring, SMALL sequential reference row — 64
    sequential merges pricing the objective's per-round extra cost
    (one vocab-bounded symbol-count aggregate on top of the pair
    aggregate). Round-13 resize (round-12 verdict task #1): the
    256-merge sequential row cost 268 s — the most expensive row in
    the gate — purely because sequential training IS one driver round
    per merge; the production-sized WordPiece claim now rides
    ``wordpiece_train_batched_production`` (1024 merges, batch_size
    64), and this row stays as the sequential $/merge reference
    point. NOT a registry row; consumed by tools/bench_scale.py
    (n_merges == 64 value-asserted, same encode plan contract)."""
    from privacy_cdc_lakehouse_spark.operators import tokenizer as tk

    pin_utc(spark)
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wf = _bpe_production_dict(spark, sf_dir, corpus, tk)
    merges, vocab = tk.bpe_train(
        wf, num_merges=64, checkpoint_every=32, scoring="wordpiece"
    )
    enc = tk.bpe_encode(corpus, vocab)
    return enc.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 3).alias("avg_tokens"),
        F.lit(len(merges)).alias("n_merges"),
    )


def q_wordpiece_encode_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-WordPiece INFERENCE at production sizing (round-14
    verdict task #4's scale half; the algorithm itself is hash-checked
    by the ``text_chunk_stats`` 40M arm and HF-parity pytests): train
    a small WordPiece vocab (16 likelihood merges over the production
    dict — the names union makes the piece set digit-rich), bridge it
    to an HF-style piece table
    (``wordpiece_vocab_from_segmentations``), then greedy-encode a
    corpus of the 10x documents PLUS one doc per customer name — the
    15k-word distinct vocabulary is what actually exercises the
    longest-match lattice (segmentation cost is DICTIONARY-sized by
    design; the corpus-sized cost is the explode + vocab join +
    order-preserving reassembly, which is what this row prices).
    1-row summary; the gate value-asserts n_merges == 16, docs ==
    corpus rows, tokens >= words (every word emits >= 1 piece),
    unk_words < words (the trained vocab actually covers the corpus)
    and a piece table bigger than a bare alphabet. NOT a registry row;
    consumed by tools/bench_scale.py."""
    from privacy_cdc_lakehouse_spark.operators import tokenizer as tk

    pin_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    names = (
        load_table(spark, sf_dir, "customer")
        .select(
            (F.col("c_custkey") + 900_000_000).cast("long").alias("doc_id"),
            F.lower(F.col("c_name")).alias("text"),
        )
    )
    corpus = docs.unionByName(names)
    wf = _bpe_production_dict(spark, sf_dir, docs, tk)
    merges, vocab = tk.bpe_train(
        wf, num_merges=16, checkpoint_every=8, scoring="wordpiece"
    )
    pieces = checkpoint_df(
        tk.wordpiece_vocab_from_segmentations(vocab), eager=False
    )
    n_pieces = pieces.agg(F.count(F.lit(1)).cast("long").alias("pieces"))
    enc = tk.wordpiece_encode(corpus, pieces)
    words = corpus.select(
        F.size(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda x: x != ""
            )
        ).cast("long").alias("w")
    ).agg(F.sum("w").cast("long").alias("words"))
    summary = enc.agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("n_tokens").cast("long").alias("tokens"),
        F.sum("n_unk_words").cast("long").alias("unk_words"),
        F.lit(len(merges)).cast("long").alias("n_merges"),
    )
    return summary.crossJoin(words).crossJoin(n_pieces).select(
        "docs", "words", "tokens", "unk_words", "pieces", "n_merges"
    )


def q_wordpiece_train_batched_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched WordPiece at production sizing — the HEADLINE WordPiece
    gate row (round-12 verdict task #1: the disjoint-batch machinery
    is scoring-agnostic, so the likelihood objective gets the same
    sub-linear driver-round scaling the BPE batched row proved): 1024
    merges at ``batch_size=64`` symbol-disjoint picks per round over
    the same widened dict, then the full corpus encode. Must land well
    under 16x the 64-merge sequential reference row despite learning
    16x the merges. Round 14 (verdict task #2): symbol counts are now
    maintained INCREMENTALLY across rounds (``sym_mode="incremental"``
    default — the r13 recount made each WordPiece round ~7x a BPE
    round; measured at sf0.1 the row dropped ~2.6x to ~2.3x the BPE
    batched row), and the checkpoint cadence tightened to every 2
    rounds — WordPiece scans the dict twice per round (pair aggregate
    + the 1-row length-delta aggregate), so replace-chain depth costs
    double what it does for BPE (measured: ce=2 ~96 s vs ce=4 ~115 s
    at sf0.1; results bit-identical per the checkpoint-parity
    contract). NOT a registry row (batched==sequential-set parity and
    incremental==recount parity are pytest-pinned); consumed by
    tools/bench_scale.py (n_merges == 1024 value-asserted, same
    encode plan contract)."""
    from privacy_cdc_lakehouse_spark.operators import tokenizer as tk

    pin_utc(spark)
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wf = _bpe_production_dict(spark, sf_dir, corpus, tk)
    merges, vocab = tk.bpe_train(
        wf, num_merges=1024, checkpoint_every=2, batch_size=64,
        scoring="wordpiece",
    )
    enc = tk.bpe_encode(corpus, vocab)
    return enc.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 3).alias("avg_tokens"),
        F.lit(len(merges)).alias("n_merges"),
    )


def q_bpe_train_batched_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE at 4x the sequential production row's vocab (1024
    merges, ``batch_size=64`` symbol-disjoint merges per driver round,
    checkpoint every 4 rounds) — pricing the round-11 verdict's
    remaining tail: sequential training is one aggregate + 1-row
    collect PER MERGE, so a real 32k-merge vocab extrapolates to ~2 h
    of driver round trips; batching cuts rounds ~64x (1024 merges in
    ~16-20 rounds). The gate's sub-linearity claim: this row must land
    well under 4x the 256-merge sequential row's wall-clock despite
    learning 4x the merges. Same corpus-touched-twice shape (dict
    build + ONE encode join). NOT a registry row (the sequential
    16-merge registry arm stays the oracle-replayable reference;
    batched==list-replay and disjoint-corpus parity are pytest-pinned);
    consumed by tools/bench_scale.py with plan assertions on the
    encode plan."""
    from privacy_cdc_lakehouse_spark.operators import tokenizer as tk

    pin_utc(spark)
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wf = _bpe_production_dict(spark, sf_dir, corpus, tk)
    merges, vocab = tk.bpe_train(
        wf, num_merges=1024, checkpoint_every=4, batch_size=64
    )
    enc = tk.bpe_encode(corpus, vocab)
    return enc.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 3).alias("avg_tokens"),
        F.lit(len(merges)).alias("n_merges"),
    )


def q_allpairs_exact_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT AllPairs similarity join priced on a corpus it can
    prove itself on (round-13 verdict task #3: prefix filtering's
    pruning power IS the corpus's rare-token tail, and the plain
    scaled fixture has none — the r13 gate honestly documented the
    absence of a row; the conclusion was a better fixture, not no
    row). Runs on ``documents_rt`` (tools/scale_fixture.py): each base
    doc family carries a deterministic 16-token salt tail, giving
    every doc rare (df == replica count) prefix shingles while
    same-family replicas keep Jaccard >= 0.9.

    One summary row prices and evidences the whole claim:
    - ``candidates`` and ``cand_pct`` (candidates as % of C(n,2)) —
      the VALUE-asserted pruning-power measure (must be << C(n,2);
      a degenerate prefix filter approaches quadratic);
    - ``ap_pairs`` — verified J >= 0.9 pairs from the exact join
      (recall 1.0 by the Bayardo bound);
    - ``lsh_pairs`` / ``lsh_missing`` — the MinHash-LSH+verify path on
      the SAME corpus: every LSH-verified pair must appear in the
      exact join's output (lsh_missing == 0 — exactness dominates the
      probabilistic path), while ap_pairs >= lsh_pairs prices what
      LSH's recall < 1 trades away.

    The candidate frames are lazily checkpointed so generation is
    priced ONCE (each feeds both its count and the verify stage); the
    verify joins and the anti-join stay live in the captured plan
    (broadcast-hinted candidate semi-joins — nothing may cartesian).
    NOT a registry row (documents_rt exists only in scaled fixtures);
    consumed by tools/bench_scale.py."""
    from privacy_cdc_lakehouse_spark.operators import dedup as dd

    pin_utc(spark)
    t = 0.9
    docs = load_table(spark, sf_dir, "documents_rt").select("doc_id", "text")
    # ONE shingle frame shared by candidate generation and both verify
    # stages (round-15: the per-word regexp/concat shingle pass was
    # measured at ~31 s EACH at this corpus, and the row ran it three
    # times); the verified frames are checkpointed too because each is
    # consumed twice (its count + the anti-join) — without that the
    # shingle-intersect verify joins execute twice (~30 s more).
    sdocs = checkpoint_df(
        docs.withColumn("sh", dd.shingles(F.col("text"))), eager=False
    )
    cand = checkpoint_df(
        dd.allpairs_candidates(sdocs, t, shingle_col="sh"), eager=False
    )
    ap = checkpoint_df(
        dd.ngram_jaccard_pairs(sdocs, cand, threshold=t, shingle_col="sh"),
        eager=False,
    )
    lsh_cand = checkpoint_df(dd.minhash_lsh_pairs(docs), eager=False)
    lsh = checkpoint_df(
        dd.ngram_jaccard_pairs(sdocs, lsh_cand, threshold=t, shingle_col="sh"),
        eager=False,
    )
    missing = lsh.select("id_a", "id_b").join(
        ap.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("candidates"))
    n_ap = ap.agg(F.count(F.lit(1)).alias("ap_pairs"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("lsh_pairs"))
    n_miss = missing.agg(F.count(F.lit(1)).alias("lsh_missing"))
    return (
        n_docs.crossJoin(n_cand)
        .crossJoin(n_ap)
        .crossJoin(n_lsh)
        .crossJoin(n_miss)
        .select(
            "n_docs",
            "candidates",
            F.round(
                F.col("candidates")
                / (F.col("n_docs") * (F.col("n_docs") - 1) / 2.0)
                * 100.0,
                4,
            ).alias("cand_pct"),
            "ap_pairs",
            "lsh_pairs",
            "lsh_missing",
        )
    )


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets. The oracle
    replicates the bucketing bit-for-bit (literal ±1 planes, identical
    fold order), so this is a full hash-checked query despite
    recall < 1 vs brute force (recall itself is measured by
    ``sim_lsh_recall``)."""
    pin_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.lsh_topk(emb, queries, k=10, planes=LSH_TOPK_PLANES, tables=LSH_TOPK_TABLES, dim=64)
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim_r")
    ).orderBy("query_id", "rank")


LSH_TOPK_PLANES = 6
LSH_TOPK_TABLES = 8


def _duck_topk_table_arms(vec: str, key: str, src: str) -> str:
    return "\n    UNION ALL\n    ".join(
        f"SELECT {key}, {vec}, {t} AS t, "
        + _duck_bucket_expr(
            vec,
            [t * LSH_TOPK_PLANES + p for p in range(LSH_TOPK_PLANES)],
        )
        + f" AS bucket FROM {src}"
        for t in range(LSH_TOPK_TABLES)
    )


_LSH_TOPK_CTE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
ctb AS (
    {_duck_topk_table_arms('cv', 'neighbor_id', 'c')}
),
qtb AS (
    {_duck_topk_table_arms('qv', 'query_id', 'q')}
),
lcand AS (
    SELECT DISTINCT qtb.query_id, ctb.neighbor_id
    FROM ctb JOIN qtb ON ctb.t = qtb.t AND ctb.bucket = qtb.bucket
),
lsh_scored AS (
    SELECT query_id, neighbor_id,
           CASE WHEN nq * nc > 0 THEN dot / (nq * nc) ELSE 0.0 END AS cos_sim
    FROM (
        SELECT ca.query_id, ca.neighbor_id,
               {_DOT.format(a='qv', b='cv')} AS dot,
               sqrt({_DOT.format(a='qv', b='qv')}) AS nq,
               sqrt({_DOT.format(a='cv', b='cv')}) AS nc
        FROM lcand ca
        JOIN q USING (query_id)
        JOIN c USING (neighbor_id)
    )
),
lsh_ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM lsh_scored
)
"""

_LSH_TOPK_SQL = _LSH_TOPK_CTE + """
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       round(cos_sim, 6) AS cos_sim_r
FROM lsh_ranked WHERE rank <= 10 ORDER BY query_id, rank
"""


IVF_RECALL_FLOOR = 0.5
LSH_RECALL_FLOOR = 0.5
# PQ at top-10 over the iid-random fixture: quantization error is the
# worst case with no cluster structure; measured per-query hits at the
# m=16/16-code/3-iter config are >= 3/10 at sf0.01 and sf0.001
# (deterministic — seeded k-means), so 0.2 holds with 50% margin.
PQ_RECALL_FLOOR = 0.2
# PCA-16 over iid-random 64-dim vectors is the no-structure worst case
# (no low-rank signal to keep: 16 components hold ~25% of variance);
# measured per-query hits are >= 2/10 at sf0.01 and sf0.001
# (deterministic — eigh on the same covariance), so 0.1 holds 2x.
PCA16_RECALL_FLOOR = 0.1


def q_sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@10 vs exact brute force for BOTH approximate ANN
    paths in one result (registry consolidation round 3 — the driver
    correctness window is capped, so the two recall queries share one
    row set distinguished by ``method``).

    - ``lsh`` rows: n_hits is exact and hash-verified (the oracle
      replicates the bucketing bit-for-bit).
    - ``ivf`` rows: n_hits is NULL (centroid means are
      float-summation-order dependent across engines — not
      SQL-replicable); only the recall-floor boolean is checked.
    - ``pq`` rows (round 7): the TRAINED codebook path
      (m=16 subspaces, 16 codes, 3 k-means iterations — the
      production shape whose ``iters=0`` twin is hash-checked in
      ``sim_ann_topk_panel``); n_hits NULL for the same reason as
      ivf, floor-boolean gated.
    - ``pca_full`` / ``pca16`` rows (round 9 — driver visibility for
      ``pca_model``/``pca_project``, previously pytest-only): PCA is a
      centered rotation, so the lossless check ranks by L2 distance
      (centering preserves distances, not angles). ``pca_full``
      projects at k=d=64 — an orthogonal rotation — so L2 top-10 over
      projected vectors must EXACTLY equal raw-space L2 top-10:
      n_hits is hash-checked as literally 10 and recall_ok is the
      Spark-computed n_hits == 10 (a broken fit/projection goes red on
      both). ``pca16`` slices the top-16 variance components (the
      components are eigenvalue-ordered, so the slice IS the k=16
      projection) and is floor-gated like ivf/pq.
    - ``mrr`` / ``ndcg`` rows (round 10): the IR-eval triple's ranked
      metrics (``operators/similarity.py::retrieval_metrics``) of the
      lsh ranked list against the exact top-10 relevance set — the
      6dp metric scaled to an exact integer in the long slot, fully
      hash-checked (recall@10 is the lsh arm's n_hits/10 already).
    - ``knn`` rows (round 9): kNN majority-vote label propagation
      (``operators/similarity.py::knn_classify`` over the fixture's
      ``label`` column) — the union's long slot (``n_hits``) carries
      the PREDICTED LABEL, hash-checked against the oracle's replay of
      the exact top-10 + modal-vote (count desc, label asc) pipeline;
      ``recall_ok`` = prediction == the query's own label. The bf
      top-10 membership is the same engine-stable ranking the lsh
      arm's hit counts already rely on.
    - ``hn`` rows (round 12): hard-negative mining
      (``operators/curation.py::hard_negatives`` — ANCE/DPR hard
      negatives, the confusable complement of the ``neg`` arm's easy
      ring negatives): exact top-30 pool minus the top-10 positives,
      8 hardest kept by (6dp-rounded sim, doc id); the long slot
      packs (hn_rank, doc) — ranks AND picks hash-checked;
      ``recall_ok`` re-verifies the positive anti-join.
    """
    pin_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # one exact scan serves the top-10 ground truth AND the round-12
    # hard-negative arm's top-30 candidate pool
    bf30 = sim.brute_force_topk(emb, queries, k=30)
    bf_full = bf30.filter(F.col("rank") <= 10)
    bf = bf_full.select("query_id", "neighbor_id")

    def hits_of(approx: DataFrame, baseline: DataFrame | None = None) -> DataFrame:
        h = (
            (bf if baseline is None else baseline)
            .join(approx, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").alias("n"))
        )
        return (
            queries.select("query_id")
            .join(h, "query_id", "left")
            .select(
                "query_id",
                F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_hits"),
            )
        )

    lsh_res = sim.lsh_topk(
        emb, queries, k=10, planes=LSH_TOPK_PLANES, tables=LSH_TOPK_TABLES, dim=64
    )
    ls = hits_of(lsh_res.select("query_id", "neighbor_id")).select(
        F.lit("lsh").alias("method"),
        "query_id",
        "n_hits",
        (F.col("n_hits") / 10.0 >= LSH_RECALL_FLOOR).alias("recall_ok"),
    )
    # round 10: IR-eval arms — MRR and binary NDCG@10 of the SAME lsh
    # ranked lists against the exact top-10 as the relevance set
    # (operators/similarity.py::retrieval_metrics); the union's long
    # slot carries the 6dp metric scaled to an exact integer, fully
    # hash-checked since both the lsh ranking and the bf ground truth
    # are engine-replicable.
    met = sim.retrieval_metrics(lsh_res, bf, k=10)

    def _metric_arm(name: str, col: str) -> DataFrame:
        return met.select(
            F.lit(name).alias("method"),
            "query_id",
            F.round(F.col(col) * 1e6, 0).cast("long").alias("n_hits"),
            (F.col(col) > 0).alias("recall_ok"),
        )

    mrr_rows = _metric_arm("mrr", "mrr")
    ndcg_rows = _metric_arm("ndcg", "ndcg_at_k")
    iv = hits_of(
        sim.ivf_topk(emb, queries, k=10, n_clusters=8, nprobe=4).select(
            "query_id", "neighbor_id"
        )
    ).select(
        F.lit("ivf").alias("method"),
        "query_id",
        F.lit(None).cast("long").alias("n_hits"),
        (F.col("n_hits") / 10.0 >= IVF_RECALL_FLOOR).alias("recall_ok"),
    )
    pq = hits_of(
        sim.pq_topk(
            emb, queries, k=10, m=16, n_codes=16, iters=3, dim=64
        ).select("query_id", "neighbor_id")
    ).select(
        F.lit("pq").alias("method"),
        "query_id",
        F.lit(None).cast("long").alias("n_hits"),
        (F.col("n_hits") / 10.0 >= PQ_RECALL_FLOOR).alias("recall_ok"),
    )
    # PCA arms: one full-rank fit serves both (k=64 rotation; the k=16
    # projection is the eigenvalue-ordered slice of the projected
    # array). L2 baseline, not cosine — see docstring.
    bf_l2_full = sim.brute_force_topk(emb, queries, k=10, metric="l2")
    bf_l2 = bf_l2_full.select("query_id", "neighbor_id")
    mdl = sim.pca_model(emb, n_components=64, dim=64)
    proj_c = sim.pca_project(emb, mdl, n_components=64).select(
        "vec_id", F.col("pca").alias("embedding")
    )
    proj_q = sim.pca_project(queries, mdl, n_components=64).select(
        "query_id", F.col("pca").alias("embedding")
    )
    pca_full = hits_of(
        sim.brute_force_topk(proj_c, proj_q, k=10, metric="l2").select(
            "query_id", "neighbor_id"
        ),
        baseline=bf_l2,
    ).select(
        F.lit("pca_full").alias("method"),
        "query_id",
        "n_hits",
        (F.col("n_hits") == 10).alias("recall_ok"),
    )
    pca16 = hits_of(
        sim.brute_force_topk(
            proj_c.select("vec_id", F.slice("embedding", 1, 16).alias("embedding")),
            proj_q.select(
                "query_id", F.slice("embedding", 1, 16).alias("embedding")
            ),
            k=10,
            metric="l2",
        ).select("query_id", "neighbor_id"),
        baseline=bf_l2,
    ).select(
        F.lit("pca16").alias("method"),
        "query_id",
        F.lit(None).cast("long").alias("n_hits"),
        (F.col("n_hits") / 10.0 >= PCA16_RECALL_FLOOR).alias("recall_ok"),
    )
    # knn arm: majority-vote label prediction, fully hash-checked —
    # n_hits carries the predicted label (the union's long slot)
    qlab = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("_true")
    )
    knn = (
        sim.knn_classify(emb, queries, k=10)
        .join(qlab, "query_id")
        .select(
            F.lit("knn").alias("method"),
            "query_id",
            F.col("predicted_label").cast("long").alias("n_hits"),
            (F.col("predicted_label") == F.col("_true")).alias("recall_ok"),
        )
    )
    # round 11: deterministic negative-sampling arm
    # (operators/curation.py::sample_negatives — previously
    # pytest-only): k=8 negatives per query from the embedding-id
    # universe on the md5 consistent-hashing ring, positives = the
    # exact top-10 (true neighbors must never leak in as negatives).
    # The long slot packs (neg_rank, doc_id) so ranks AND picks are
    # hash-checked against the oracle's full naive ring replay;
    # recall_ok re-verifies the anti-join (negative not in top-10).
    pos = bf.select("query_id", F.col("neighbor_id").alias("doc_id"))
    negs = cur.sample_negatives(
        queries.select("query_id"),
        emb.select(F.col("vec_id").alias("doc_id")),
        k=8,
        positives=pos,
    )
    neg_rows = negs.join(
        pos.select("query_id", "doc_id", F.lit(1).alias("_p")),
        ["query_id", "doc_id"],
        "left",
    ).select(
        F.lit("neg").alias("method"),
        "query_id",
        (
            F.col("neg_rank").cast("long") * F.lit(1_000_000_000)
            + F.col("doc_id")
        ).alias("n_hits"),
        F.col("_p").isNull().alias("recall_ok"),
    )
    # round 11 (cont.): MMR diversification arm
    # (operators/similarity.py::mmr_rerank): greedy λ=0.75 re-rank of
    # the exact top-10 down to 4 diverse picks — the long slot packs
    # (mmr_rank, doc) so the greedy ORDER is hash-checked against the
    # oracle's staged-CTE replay (the bpe staged-replay precedent);
    # recall_ok re-verifies every pick came from the top-10 pool.
    mm = sim.mmr_rerank(bf_full, emb, k=4, lambda_=0.75)
    mmr_div_rows = mm.join(
        pos.select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            F.lit(1).alias("_inbf"),
        ),
        ["query_id", "neighbor_id"],
        "left",
    ).select(
        F.lit("mmr_div").alias("method"),
        "query_id",
        (
            F.col("mmr_rank").cast("long") * F.lit(1_000_000_000)
            + F.col("neighbor_id")
        ).alias("n_hits"),
        F.col("_inbf").isNotNull().alias("recall_ok"),
    )
    # round 12: hard-negative mining arm (operators/curation.py::
    # hard_negatives — the ANCE/DPR hard-negatives recipe, the
    # confusable complement of the neg arm's easy ring negatives):
    # from the exact top-30 candidate pool, anti-join the top-10
    # positives, keep the 8 hardest remaining by (6dp-rounded sim
    # DESC, doc id). The long slot packs (hn_rank, doc) so ranks AND
    # picks are hash-checked against the oracle's ranked replay;
    # recall_ok re-verifies no positive leaked through the anti-join.
    hn = cur.hard_negatives(
        bf30.select(
            "query_id", F.col("neighbor_id").alias("doc_id"), "cos_sim"
        ),
        pos,
        k=8,
        score_col="cos_sim",
    )
    hn_rows = hn.join(
        pos.select("query_id", "doc_id", F.lit(1).alias("_p")),
        ["query_id", "doc_id"],
        "left",
    ).select(
        F.lit("hn").alias("method"),
        "query_id",
        (
            F.col("hn_rank").cast("long") * F.lit(1_000_000_000)
            + F.col("doc_id")
        ).alias("n_hits"),
        F.col("_p").isNull().alias("recall_ok"),
    )
    # round 12 (cont.): Reciprocal Rank Fusion arm
    # (operators/similarity.py::rrf_fuse — Cormack et al. 2009, the
    # hybrid-retrieval combiner): fuse the exact COSINE top-10 and the
    # exact L2 top-10 (two genuinely different rankers over the same
    # corpus — the same engine-stable rankings the lsh/pca arms
    # already rely on) at k=60. The long slot packs (rrf_rank, doc) so
    # the fused ORDER is hash-checked against the oracle's replay;
    # recall_ok re-verifies a positive fused score.
    rrf_rows = sim.rrf_fuse(
        [
            bf_full.select("query_id", "neighbor_id", "rank"),
            bf_l2_full.select("query_id", "neighbor_id", "rank"),
        ],
        k=60,
    ).select(
        F.lit("rrf").alias("method"),
        "query_id",
        (
            F.col("rrf_rank").cast("long") * F.lit(1_000_000_000)
            + F.col("doc_id")
        ).alias("n_hits"),
        (F.col("rrf_score") > 0).alias("recall_ok"),
    )
    # round 13: JL random-projection arm (operators/similarity.py::
    # random_projection — previously pytest-only): the 5 query vectors
    # project to 16 components against the seeded ±1 plane literals
    # (seed 7 → plane seeds 7·100003+k, the LSH plane contract); each
    # component is an identical-fold-order dot times the EXACT 0.25
    # scale (dim_out=16 ⇒ 1/√16), so the doubles are bit-equal across
    # engines and the long slot packs (component index,
    # round(comp·1e6)+1e8 offset for sign) — fully hash-checked.
    rp_rows = (
        sim.random_projection(queries, dim_out=16, dim_in=64, seed=7)
        .select("query_id", F.posexplode("embedding").alias("ci", "comp"))
        .select(
            F.lit("rp").alias("method"),
            "query_id",
            (
                F.col("ci").cast("long") * F.lit(1_000_000_000)
                + F.round(F.col("comp") * 1e6, 0).cast("long")
                + F.lit(100_000_000)
            ).alias("n_hits"),
            (F.abs(F.col("comp")) < F.lit(1000.0)).alias("recall_ok"),
        )
    )
    return (
        ls.unionByName(iv)
        .unionByName(pq)
        .unionByName(pca_full)
        .unionByName(pca16)
        .unionByName(knn)
        .unionByName(mrr_rows)
        .unionByName(ndcg_rows)
        .unionByName(neg_rows)
        .unionByName(mmr_div_rows)
        .unionByName(hn_rows)
        .unionByName(rrf_rows)
        .unionByName(rp_rows)
        .orderBy("method", "query_id", "n_hits")
    )


def _duck_rp_selects(seed: int = 7, dim_out: int = 16) -> str:
    """DuckDB replay of ``random_projection`` over the q CTE: the SAME
    plane literals (seed·100003+k) and left-fold order as the Spark
    plan; ·0.25 is the exact 1/√16 scale, so comps are bit-equal."""
    comps = []
    for k in range(dim_out):
        plane = _duck_plane_list(seed * 100_003 + k)
        comps.append(
            f"SELECT query_id, {k} AS ci,\n"
            f"       list_sum(list_transform(range(1, 65),\n"
            f"           i -> CAST(qv[i] AS DOUBLE) * ({plane})[i])) * 0.25 AS comp\n"
            f"FROM q"
        )
    return "\nUNION ALL\n".join(comps)


def _mmr_oracle_ctes(k: int, lam: float) -> str:
    """Staged-CTE replay of ``similarity.mmr_rerank`` (the bpe staged
    precedent): stage r ranks the 6dp-rounded λ·rel − (1−λ)·maxsim
    score (doc-id tie-break), picks rn=1, and folds the pick's cosine
    into the survivors' running maxsim with the SAME left-fold dot /
    guarded-division shape the hash-checked bf arm uses. ``repr``
    literals keep the λ constants bit-equal to Spark's ``F.lit``."""
    lam_s, one_minus = repr(float(lam)), repr(1.0 - float(lam))
    parts = [
        """mmr_st0 AS (
    SELECT b.query_id, b.neighbor_id AS doc_id, b.cos_sim AS rel,
           e.embedding AS v, 0.0 AS maxsim
    FROM bf_ranked b JOIN embeddings e ON e.vec_id = b.neighbor_id
    WHERE b.rank <= 10
)"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f"""mmr_rk{r} AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id) AS rn
    FROM (
        SELECT query_id, doc_id, rel, v, maxsim,
               round({lam_s} * rel - {one_minus} * maxsim, 6) AS score
        FROM mmr_st{r - 1}
    )
)"""
        )
        if r < k:
            dot = _DOT.format(a="s.v", b="p.v")
            nv = _DOT.format(a="s.v", b="s.v")
            np_ = _DOT.format(a="p.v", b="p.v")
            parts.append(
                f"""mmr_st{r} AS (
    SELECT query_id, doc_id, rel, v,
           greatest(maxsim, CASE WHEN nv * np > 0
               THEN dot / (nv * np) ELSE 0.0 END) AS maxsim
    FROM (
        SELECT s.query_id, s.doc_id, s.rel, s.v, s.maxsim,
               {dot} AS dot, sqrt({nv}) AS nv, sqrt({np_}) AS np
        FROM mmr_rk{r} s
        JOIN (SELECT query_id, v FROM mmr_rk{r} WHERE rn = 1) p
          ON p.query_id = s.query_id
        WHERE s.rn > 1
    )
)"""
            )
    return ",\n".join(parts)


def _mmr_pick_selects(k: int) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT query_id, doc_id, {r} AS mmr_rank FROM mmr_rk{r} WHERE rn = 1"
        for r in range(1, k + 1)
    )


_ANN_RECALL_SQL = _LSH_TOPK_CTE + f"""
, bf_scored AS (
    SELECT query_id, neighbor_id,
           CASE WHEN nq * nc > 0 THEN dot / (nq * nc) ELSE 0.0 END AS cos_sim
    FROM (
        SELECT query_id, neighbor_id,
               {_DOT.format(a='qv', b='cv')} AS dot,
               sqrt({_DOT.format(a='qv', b='qv')}) AS nq,
               sqrt({_DOT.format(a='cv', b='cv')}) AS nc
        FROM c CROSS JOIN q
    )
),
bf_ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM bf_scored
),
-- round 12: exact L2 ranking (same left-fold term order as Spark's
-- zip_with/aggregate — the pca_full arm already relies on cross-engine
-- L2 top-10 equality) + the RRF fusion of the two exact rankers
bf_l2_ranked AS (
    SELECT query_id, neighbor_id, row_number() OVER (
        PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
    FROM (
        SELECT query_id, neighbor_id,
               list_sum(list_transform(range(1, 65),
                   i -> (CAST(qv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
                      * (CAST(qv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))))
                 AS dist
        FROM c CROSS JOIN q
    )
),
rrf_fused AS (
    SELECT query_id, doc_id,
           row_number() OVER (
               PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
           ) AS rrf_rank,
           rrf_score
    FROM (
        SELECT query_id, neighbor_id AS doc_id,
               round(sum(term ORDER BY src), 6) AS rrf_score
        FROM (
            SELECT query_id, neighbor_id, 0 AS src,
                   1.0 / (60.0 + rank) AS term
            FROM bf_ranked WHERE rank <= 10
            UNION ALL
            SELECT query_id, neighbor_id, 1, 1.0 / (60.0 + rank)
            FROM bf_l2_ranked WHERE rank <= 10
        ) GROUP BY 1, 2
    )
),
hits AS (
    SELECT b.query_id, count(*) AS n
    FROM bf_ranked b
    JOIN lsh_ranked l
      ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
     AND l.rank <= 10
    WHERE b.rank <= 10
    GROUP BY b.query_id
),
-- retrieval_metrics replay: MRR + binary NDCG@10 of the lsh ranked
-- list vs the exact top-10 relevance set; idcg's left fold matches
-- Spark's aggregate(sequence(...)) term order exactly
irmet AS (
    SELECT qq.query_id,
           min(CASE WHEN b.neighbor_id IS NOT NULL THEN l.rank END) AS first_rel,
           sum(CASE WHEN b.neighbor_id IS NOT NULL
                    THEN 1.0 / log2(l.rank + 1.0) END) AS dcg
    FROM (SELECT DISTINCT query_id FROM q) qq
    LEFT JOIN (SELECT * FROM lsh_ranked WHERE rank <= 10) l
      ON l.query_id = qq.query_id
    LEFT JOIN (SELECT query_id, neighbor_id FROM bf_ranked WHERE rank <= 10) b
      ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
    GROUP BY qq.query_id
),
iridcg AS (
    SELECT list_sum(list_transform(range(1, 11),
                    i -> 1.0 / log2(i + 1.0))) AS v
),
{_mmr_oracle_ctes(4, 0.75)}
SELECT 'lsh' AS method, q.query_id,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       coalesce(h.n, 0) / 10.0 >= {LSH_RECALL_FLOOR} AS recall_ok
FROM (SELECT DISTINCT query_id FROM q) q
LEFT JOIN hits h USING (query_id)
UNION ALL
SELECT 'mrr', query_id,
       CAST(round(round(coalesce(1.0 / first_rel, 0.0), 6) * 1e6, 0)
            AS BIGINT),
       coalesce(1.0 / first_rel, 0.0) > 0
FROM irmet
UNION ALL
SELECT 'ndcg', query_id,
       CAST(round(round(coalesce(m.dcg, 0.0) / i.v, 6) * 1e6, 0) AS BIGINT),
       coalesce(m.dcg, 0.0) > 0
FROM irmet m CROSS JOIN iridcg i
UNION ALL
SELECT 'ivf', query_id, CAST(NULL AS BIGINT), recall_ok
FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
AS t(query_id, recall_ok)
UNION ALL
SELECT 'pq', query_id, CAST(NULL AS BIGINT), recall_ok
FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
AS t(query_id, recall_ok)
UNION ALL
-- full-rank PCA is a centered orthogonal rotation: L2 top-10 over the
-- projected vectors must EXACTLY equal raw-space L2 top-10, so the
-- oracle pins n_hits to literally 10 (a broken fit/projection
-- hash-mismatches) and recall_ok to the n_hits==10 boolean
SELECT 'pca_full', query_id, CAST(10 AS BIGINT), true
FROM (VALUES (0), (1), (2), (3), (4)) AS t(query_id)
UNION ALL
SELECT 'pca16', query_id, CAST(NULL AS BIGINT), recall_ok
FROM (VALUES (0, true), (1, true), (2, true), (3, true), (4, true))
AS t(query_id, recall_ok)
UNION ALL
-- negative-sampling replay (round 11): the NAIVE consistent-hashing
-- ring — doc u / query anchor a from md5('neg-d|id')/('neg-q|id')
-- first-13-nibble uniforms (exact /2^52, no rounding needed: the
-- ring arithmetic is exact double math in both engines), clockwise
-- distance, window w = min(1, oversample*k/n), positives (exact
-- top-10) excluded BEFORE the top-k rank — two-phase == naive is the
-- operator's contract, so the oracle replays the naive form
SELECT 'neg', query_id,
       CAST(neg_rank AS BIGINT) * 1000000000 + doc_id, true
FROM (
    SELECT query_id, doc_id, row_number() OVER (
        PARTITION BY query_id ORDER BY dist, doc_id) AS neg_rank
    FROM (
        SELECT qq.query_id, d.doc_id,
               d.u - qq.a
               + CASE WHEN d.u < qq.a THEN 1.0 ELSE 0.0 END AS dist
        FROM (
            SELECT doc_id,
                   CAST({_duck_hexn(1, 13)} AS DOUBLE)
                   / 4503599627370496.0 AS u
            FROM (
                SELECT vec_id AS doc_id,
                       md5('neg-d' || '|' || CAST(vec_id AS VARCHAR)) AS h
                FROM embeddings
            )
        ) d
        CROSS JOIN (
            SELECT query_id,
                   CAST({_duck_hexn(1, 13)} AS DOUBLE)
                   / 4503599627370496.0 AS a
            FROM (
                SELECT DISTINCT query_id,
                       md5('neg-q' || '|' || CAST(query_id AS VARCHAR)) AS h
                FROM q
            )
        ) qq
        LEFT JOIN (
            SELECT query_id, neighbor_id
            FROM bf_ranked WHERE rank <= 10
        ) p ON p.query_id = qq.query_id AND p.neighbor_id = d.doc_id
        WHERE p.neighbor_id IS NULL
    )
    WHERE dist < least(1.0, 64.0 / (SELECT count(*) FROM embeddings))
) WHERE neg_rank <= 8
UNION ALL
-- MMR diversification replay (round 11): the staged greedy picks —
-- rank AND doc packed into the long slot; membership in the top-10
-- pool is true by construction
SELECT 'mmr_div', query_id,
       CAST(mmr_rank AS BIGINT) * 1000000000 + doc_id, true
FROM ({_mmr_pick_selects(4)})
UNION ALL
-- hard-negative replay (round 12): the exact top-30 pool minus the
-- top-10 positives, re-ranked by (6dp-rounded sim DESC, doc id),
-- keep 8 — rank AND pick packed into the long slot; no positive can
-- leak by construction (the anti-join is the rank>10 filter)
SELECT 'hn', query_id,
       CAST(hn_rank AS BIGINT) * 1000000000 + neighbor_id, true
FROM (
    SELECT query_id, neighbor_id, row_number() OVER (
        PARTITION BY query_id
        ORDER BY round(cos_sim, 6) DESC, neighbor_id) AS hn_rank
    FROM bf_ranked WHERE rank > 10 AND rank <= 30
) WHERE hn_rank <= 8
UNION ALL
-- RRF replay (round 12): fused (rank, doc) order of the two exact
-- rankers; a fused score is positive by construction
SELECT 'rrf', query_id,
       CAST(rrf_rank AS BIGINT) * 1000000000 + doc_id, rrf_score > 0
FROM rrf_fused
UNION ALL
-- knn majority-vote label propagation: n_hits carries the PREDICTED
-- label; exact replay of top-10 membership (the same engine-stable
-- bf ranking the lsh hit counts use) + modal vote (count desc, label
-- asc tie-break)
SELECT 'knn', k.query_id, CAST(k.pred AS BIGINT),
       k.pred = e.label
FROM (
    SELECT query_id, label AS pred FROM (
        SELECT v.query_id, v.label, row_number() OVER (
            PARTITION BY v.query_id ORDER BY v.n DESC, v.label) AS rn
        FROM (
            SELECT b.query_id, e2.label, count(*) AS n
            FROM bf_ranked b
            JOIN embeddings e2 ON e2.vec_id = b.neighbor_id
            WHERE b.rank <= 10
            GROUP BY b.query_id, e2.label
        ) v
    ) WHERE rn = 1
) k
JOIN embeddings e ON e.vec_id = k.query_id
UNION ALL
-- JL random-projection replay (round 13): identical plane literals +
-- fold order; the exact 0.25 scale keeps the doubles bit-equal, so
-- the packed (component, round(comp*1e6)) longs hash exactly
SELECT 'rp', query_id,
       CAST(ci AS BIGINT) * 1000000000
       + CAST(round(comp * 1e6, 0) AS BIGINT) + 100000000,
       abs(comp) < 1000.0
FROM ({_duck_rp_selects()})
ORDER BY method, query_id
"""


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with a FIXED coarse quantizer (``iters=0``:
    centroids = the 8 lowest-vec_id vectors, bit-exact), probing 4 of 8
    cells. Fully oracle-checked: seed selection, argmin assignment
    (tie-break lowest cluster id), nprobe explode, and the cosine
    rerank are all replicated in DuckDB. The ITERATED quantizer
    (``iters>0``) is float-summation-order dependent across engines and
    stays quality-gated through the ``ivf`` arm of ``sim_ann_recall``."""
    pin_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ivf_topk(emb, queries, k=10, n_clusters=8, nprobe=4, iters=0)
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim_r")
    ).orderBy("query_id", "rank")


_SQDIST = (
    "list_sum(list_transform(range(1, 65), "
    "i -> (CAST({a}[i] AS DOUBLE) - {b}[i]) * (CAST({a}[i] AS DOUBLE) - {b}[i])))"
)

# iters=0 quantizer: seeds are the 8 lowest-vec_id vectors verbatim;
# assignment = argmin of squared distance with lowest-cluster-id
# tie-break (Spark sorts (d, c) structs); queries probe their 4 nearest
# cells; exact cosine rerank over the probed cells only.
_IVF_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS svec
    FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
),
cdist AS (
    SELECT neighbor_id, cv, s.cl,
           {_SQDIST.format(a='cv', b='s.svec')} AS d
    FROM c CROSS JOIN seeds s
),
c_assigned AS (
    SELECT neighbor_id, cv, cl AS cluster FROM (
        SELECT *, row_number() OVER (
            PARTITION BY neighbor_id ORDER BY d, cl) AS rn
        FROM cdist
    ) WHERE rn = 1
),
qdist AS (
    SELECT query_id, qv, s.cl,
           {_SQDIST.format(a='qv', b='s.svec')} AS d
    FROM q CROSS JOIN seeds s
),
q_probe AS (
    SELECT query_id, qv, cl AS cluster FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY d, cl) AS rn
        FROM qdist
    ) WHERE rn <= 4
),
ivf_scored AS (
    SELECT query_id, neighbor_id,
           CASE WHEN nq * nc > 0 THEN dot / (nq * nc) ELSE 0.0 END AS cos_sim
    FROM (
        SELECT p.query_id, a.neighbor_id,
               {_DOT.format(a='qv', b='cv')} AS dot,
               sqrt({_DOT.format(a='qv', b='qv')}) AS nq,
               sqrt({_DOT.format(a='cv', b='cv')}) AS nc
        FROM c_assigned a JOIN q_probe p USING (cluster)
    )
),
ivf_ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM ivf_scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       round(cos_sim, 6) AS cos_sim_r
FROM ivf_ranked WHERE rank <= 10 ORDER BY query_id, rank
"""

def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k (``operators/similarity.py::pq_topk``)
    with a FIXED codebook (``iters=0``: per-subspace centroids = the 8
    lowest-vec_id vectors' subvector slices, bit-exact — the same
    SQL-replicability trick as the ivf arm; trained codebooks stay
    quality-gated through the recall tests). m=4 subspaces × 16 dims ×
    8 codes; rank = ADC order (sum of per-subspace squared distances
    to the corpus codes' centroids, query side exact), reported score
    = exact cosine of the chosen candidates. Fully oracle-checked:
    seed slicing, per-subspace argmin encode (tie-break lowest code),
    the left-associated 4-term ADC sum, ADC ranking, and the cosine
    fetch are all replicated in DuckDB."""
    pin_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.pq_topk(emb, queries, k=10, m=4, n_codes=8, iters=0, dim=64)
    return out.select(
        "query_id", "rank", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim_r")
    ).orderBy("query_id", "rank")


# Per-subspace squared distance over a 16-dim slice at offset {off}
# (both sides indexed in dim order — the same element order as Spark's
# slice-then-fold).
_PQ_SQD = (
    "list_sum(list_transform(range(1, 17), "
    "i -> (CAST({a}[{off} + i] AS DOUBLE) - {b}[{off} + i]) "
    "* (CAST({a}[{off} + i] AS DOUBLE) - {b}[{off} + i])))"
)

_PQ_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
subs AS (SELECT unnest(range(0, 4)) AS sub),
pseeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS svec
    FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
),
enc AS (
    SELECT neighbor_id, sub, code FROM (
        SELECT c.neighbor_id, s.sub, p.code,
               row_number() OVER (
                   PARTITION BY c.neighbor_id, s.sub
                   ORDER BY {_PQ_SQD.format(a='cv', b='p.svec', off='(s.sub * 16)')}, p.code
               ) AS rn
        FROM c CROSS JOIN subs s CROSS JOIN pseeds p
    ) WHERE rn = 1
),
qd AS (
    SELECT query_id, s.sub, p.code,
           {_PQ_SQD.format(a='qv', b='p.svec', off='(s.sub * 16)')} AS d
    FROM q CROSS JOIN subs s CROSS JOIN pseeds p
),
adc AS (
    SELECT qd.query_id, e.neighbor_id,
           (((max(CASE WHEN qd.sub = 0 THEN qd.d END)
            + max(CASE WHEN qd.sub = 1 THEN qd.d END))
            + max(CASE WHEN qd.sub = 2 THEN qd.d END))
            + max(CASE WHEN qd.sub = 3 THEN qd.d END)) AS pq_dist
    FROM enc e JOIN qd ON e.sub = qd.sub AND e.code = qd.code
    GROUP BY qd.query_id, e.neighbor_id
),
pq_win AS (
    SELECT query_id, rank, neighbor_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY pq_dist, neighbor_id) AS rank
        FROM adc
    ) WHERE rank <= 10
),
pq_out AS (
    SELECT w.query_id, w.rank, w.neighbor_id,
           CASE WHEN nq * nc > 0 THEN dot / (nq * nc) ELSE 0.0 END AS cos_sim
    FROM (
        SELECT w.query_id, w.rank, w.neighbor_id,
               {_DOT.format(a='qv', b='cv')} AS dot,
               sqrt({_DOT.format(a='qv', b='qv')}) AS nq,
               sqrt({_DOT.format(a='cv', b='cv')}) AS nc
        FROM pq_win w
        JOIN c ON c.neighbor_id = w.neighbor_id
        JOIN q ON q.query_id = w.query_id
    ) w
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       round(cos_sim, 6) AS cos_sim_r
FROM pq_out ORDER BY query_id, rank
"""

_SIM_ANN_TOPK_PANEL_SQL = f"""
SELECT 'bruteforce' AS method, * FROM ({_SIM_TOPK_SQL})
UNION ALL
SELECT 'lsh', * FROM ({_LSH_TOPK_SQL})
UNION ALL
SELECT 'ivf', * FROM ({_IVF_TOPK_SQL})
UNION ALL
SELECT 'pq', * FROM ({_PQ_TOPK_SQL})
ORDER BY method, query_id, rank
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (``operators/similarity.py::semantic_dedup``) over the
    AUGMENTED embeddings corpus (the same vec_id%10 perturbed copies as
    ``dedup_embedding_near_dup`` — the raw corpus has no semantic dups
    to find) with the FIXED coarse quantizer (``iters=0`` — the same
    SQL-replicable seed assignment as the ivf arm of
    ``sim_ann_topk_panel``): cluster-scoped cosine pairs at >= 0.99,
    recursive-CTE transitive closure, min-id keeper. Every vector's
    cell, component and keeper flag are hash-checked — seed selection,
    argmin assignment (tie-break lowest cluster), in-cell pair cosine,
    and the closure are all replayed in DuckDB.

    Round 9 completes the D4 pipeline (Tirumala et al. 2023 = SemDeDup
    then SSL-prototype pruning) with a ``proto`` arm:
    ``operators/similarity.py::prototypes_filter`` over the SAME cells
    — rank-to-centroid cosine descending (6dp-rounded, id tie-break),
    drop the top 25% of each cell. Every vector's rank AND kept flag
    are hash-checked; the oracle replays the centroid cosine, the
    rank-over-rounded-score window and the floor arithmetic."""
    pin_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
    perturbed = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "v", lambda x, i: F.when(i == 0, x * 1.05).otherwise(x)
        ).alias("v"),
    )
    corpus = base.unionByName(perturbed)
    sem = sim.semantic_dedup(
        corpus, threshold=0.99, n_clusters=8, iters=0, vec_col="v"
    ).select(
        F.lit("sem").alias("kind"),
        "vec_id",
        "cluster",
        F.col("component").alias("val"),
        F.col("is_keeper").alias("flag"),
    )
    proto = sim.prototypes_filter(
        corpus, drop_frac=0.25, n_clusters=8, iters=0, vec_col="v"
    ).select(
        F.lit("proto").alias("kind"),
        "vec_id",
        "cluster",
        F.col("proto_rank").alias("val"),
        F.col("is_kept").alias("flag"),
    )
    return sem.unionByName(proto).orderBy("kind", "vec_id")


_DEDUP_SEMANTIC_SQL = f"""
WITH RECURSIVE base AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
    FROM embeddings
),
c AS (
    SELECT vec_id, cv FROM base
    UNION ALL
    SELECT vec_id + 100000,
           list_transform(range(1, 65),
             i -> CASE WHEN i = 1 THEN cv[i] * 1.05 ELSE cv[i] END)
    FROM base WHERE vec_id % 10 = 0
),
seeds AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, cv AS svec
    FROM (SELECT vec_id, cv FROM c ORDER BY vec_id LIMIT 8)
),
cdist AS (
    SELECT vec_id, cv, s.cl,
           {_SQDIST.format(a='cv', b='s.svec')} AS d
    FROM c CROSS JOIN seeds s
),
assigned AS (
    SELECT vec_id, cv, cl AS cluster FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY d, cl) AS rn
        FROM cdist
    ) WHERE rn = 1
),
pairs AS (
    SELECT id_a, id_b,
           CASE WHEN na * nb > 0 THEN dot / (na * nb) ELSE 0.0 END AS cos_sim
    FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_DOT.format(a='a.cv', b='b.cv')} AS dot,
               sqrt({_DOT.format(a='a.cv', b='a.cv')}) AS na,
               sqrt({_DOT.format(a='b.cv', b='b.cv')}) AS nb
        FROM assigned a JOIN assigned b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    )
),
verified AS (SELECT id_a, id_b FROM pairs WHERE cos_sim >= 0.99),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM verified
    UNION
    SELECT id_b, id_a FROM verified
),
reach(id, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT rc.id, e.dst FROM reach rc JOIN edges e ON e.src = rc.r
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
pcos AS (
    -- proto arm: cosine of every vector to its OWN cell centroid,
    -- rounded 6dp (the rank-over-rounded-score contract)
    SELECT vec_id, cluster,
           round(CASE WHEN na * nb > 0 THEN dot / (na * nb)
                      ELSE 0.0 END, 6) AS pc
    FROM (
        SELECT s.vec_id, s.cluster,
               {_DOT.format(a='s.cv', b='sd.svec')} AS dot,
               sqrt({_DOT.format(a='s.cv', b='s.cv')}) AS na,
               sqrt({_DOT.format(a='sd.svec', b='sd.svec')}) AS nb
        FROM assigned s JOIN seeds sd ON sd.cl = s.cluster
    )
),
pranked AS (
    SELECT vec_id, cluster,
           row_number() OVER (
               PARTITION BY cluster ORDER BY pc DESC, vec_id
           ) AS proto_rank,
           count(*) OVER (PARTITION BY cluster) AS cell_n
    FROM pcos
)
SELECT 'sem' AS kind, s.vec_id, CAST(s.cluster AS INT) AS cluster,
       coalesce(c2.component, s.vec_id) AS val,
       coalesce(c2.component, s.vec_id) = s.vec_id AS flag
FROM assigned s LEFT JOIN comp c2 ON c2.id = s.vec_id
UNION ALL
SELECT 'proto', vec_id, CAST(cluster AS INT),
       CAST(proto_rank AS BIGINT),
       proto_rank > floor(0.25 * cell_n)
FROM pranked
ORDER BY kind, vec_id
"""


# ----------------------------- curation -------------------------------------


def q_curation_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split of the documents corpus
    (90/5/5 by md5 bucket of doc_id). The full per-doc assignment —
    bucket AND split label — is hash-checked: the md5 hex-slice
    arithmetic is replicated digit-for-digit in DuckDB (the same
    construction already proven by the MinHash oracle), so split
    reproducibility is verified end to end, not just proportions.
    Because the bucket is a pure function of the id, the assignment is
    stable under corpus growth — the property that makes incremental
    ingest reproducible at 100 TB (no sampling pass, no shuffle: a
    codegen'd projection).

    Round 9 adds the ``safe`` arm — dedup-aware splitting
    (``operators/curation.py::leakage_safe_split``) over the AUGMENTED
    corpus: the split key is the exact-dup COMPONENT (min member id;
    singletons key on themselves), so duplicate clusters can never
    straddle train/test — the eval-leakage bug Lee et al. 2022
    measure. Every doc's split KEY and label are hash-checked; the
    oracle replays the component (min-over-fingerprint-partition) and
    the same md5 arithmetic, which structurally forces dup partners
    into the same split.

    Round 10 adds the ``ep1``/``ep2`` arms — reproducible per-epoch
    training order (``operators/curation.py::epoch_shuffle_key``,
    previously pytest-only): every doc's GLOBAL dataloader position
    for two epochs (row_number over the md5 epoch key) plus a key
    prefix is hash-checked against the oracle's identical md5 replay —
    pinning both that the key is the documented md5 construction and
    that sorting by it yields the same order in any engine, with
    epochs 1 and 2 giving independent orders. (The global row_number
    here is the VERIFICATION comparator at fixture scale; the
    operator's at-scale contract is repartitionByRange +
    sortWithinPartitions, no global window — see its docstring.)"""
    pin_utc(spark)
    docs = _docs(spark, sf_dir)
    out = cur.hash_split(docs, id_col="doc_id", train=0.9, val=0.05)
    doc_rows = out.select(
        F.lit("doc").alias("kind"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws(
            ":",
            cur.split_bucket(F.col("doc_id")).cast("string"),
            "split",
        ).alias("v"),
    )
    corpus = _augmented(docs)
    comps = dd.exact_duplicates(corpus).select(
        F.col("keeper_id").alias("component"),
        F.explode("member_ids").alias("doc_id"),
    )
    safe = cur.leakage_safe_split(corpus.select("doc_id"), comps)
    safe_rows = safe.select(
        F.lit("safe").alias("kind"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws(":", "_split_key", "split").alias("v"),
    )
    from pyspark.sql import Window as W

    ep_arms = [
        docs.select(
            F.lit(f"ep{e}").alias("kind"),
            F.col("doc_id").cast("string").alias("k"),
            F.concat_ws(
                ":",
                F.row_number()
                .over(W.orderBy(cur.epoch_shuffle_key(F.col("doc_id"), e)))
                .cast("string"),
                F.substring(cur.epoch_shuffle_key(F.col("doc_id"), e), 1, 8),
            ).alias("v"),
        )
        for e in (1, 2)
    ]
    out_rows = doc_rows.unionByName(safe_rows)
    for arm in ep_arms:
        out_rows = out_rows.unionByName(arm)
    return out_rows.orderBy("kind", "k")


_HASH_SPLIT_SQL = f"""
WITH h AS (
    SELECT doc_id,
           md5('split' || '|' || CAST(doc_id AS VARCHAR)) AS h
    FROM documents
),
b AS (
    SELECT doc_id, CAST({_duck_hex7(1)} AS BIGINT) % {cur.SPLIT_BUCKETS} AS bucket
    FROM h
),
{_AUG_CTE},
scomp AS (
    SELECT doc_id,
           CAST(min(doc_id) OVER (PARTITION BY
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           ) AS VARCHAR) AS skey
    FROM aug
),
sh AS (
    SELECT doc_id, skey, md5('split' || '|' || skey) AS h FROM scomp
),
sb AS (
    SELECT doc_id, skey,
           CAST({_duck_hex7(1)} AS BIGINT) % {cur.SPLIT_BUCKETS} AS bucket
    FROM sh
)
SELECT 'doc' AS kind, CAST(doc_id AS VARCHAR) AS k,
       CAST(bucket AS VARCHAR) || ':' ||
       CASE WHEN bucket < 900 THEN 'train'
            WHEN bucket < 950 THEN 'val'
            ELSE 'test' END AS v
FROM b
UNION ALL
SELECT 'safe', CAST(doc_id AS VARCHAR),
       skey || ':' ||
       CASE WHEN bucket < 900 THEN 'train'
            WHEN bucket < 950 THEN 'val'
            ELSE 'test' END
FROM sb
UNION ALL
SELECT 'ep1', CAST(doc_id AS VARCHAR),
       CAST(row_number() OVER (
           ORDER BY md5('epoch' || '|' || '1' || '|' || CAST(doc_id AS VARCHAR))
       ) AS VARCHAR) || ':' ||
       substr(md5('epoch' || '|' || '1' || '|' || CAST(doc_id AS VARCHAR)), 1, 8)
FROM documents
UNION ALL
SELECT 'ep2', CAST(doc_id AS VARCHAR),
       CAST(row_number() OVER (
           ORDER BY md5('epoch' || '|' || '2' || '|' || CAST(doc_id AS VARCHAR))
       ) AS VARCHAR) || ':' ||
       substr(md5('epoch' || '|' || '2' || '|' || CAST(doc_id AS VARCHAR)), 1, 8)
FROM documents
ORDER BY kind, k
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (``operators/curation.py::pack_sequences``):
    concat-and-chunk the corpus into 512-token packs across 8 hash
    shards. Every doc's shard, token count, stream offset, pack index,
    in-pack offset, and straddle span are hash-checked — the oracle
    replays the identical md5-shard + window-cumsum + floor arithmetic
    (all integer, no float slack)."""
    pin_utc(spark)
    return cur.pack_sequences(
        _docs(spark, sf_dir), tokens_per_pack=512, n_shards=8
    ).orderBy("doc_id")


_PACK_SQL = f"""
WITH t AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS BIGINT)
             AS n_tokens,
           md5('pack' || '|' || CAST(doc_id AS VARCHAR)) AS h
    FROM documents
),
s AS (
    SELECT doc_id, n_tokens,
           CAST({_duck_hex7(1)} AS BIGINT) % 8 AS shard
    FROM t
),
c AS (
    SELECT doc_id, shard, n_tokens,
           sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens AS start_offset
    FROM s
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(floor(start_offset / 512) AS BIGINT) AS pack,
       CAST(start_offset % 512 AS BIGINT) AS offset_in_pack,
       CAST(CASE WHEN n_tokens > 0
            THEN floor((start_offset + n_tokens - 1) / 512)
                 - floor(start_offset / 512) + 1
            ELSE 0 END AS BIGINT) AS n_packs_spanned
FROM c ORDER BY doc_id
"""


def q_curation_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture downsampling (``operators/curation.py::
    mixture_sample``): per-language target rates (en 0.8 / de 0.5 /
    es 0.25, default 0.1) resolved deterministically by md5 bucket of
    doc_id. The full surviving per-doc assignment — id, stratum, AND
    bucket — is hash-checked; the oracle replays the identical
    hex-slice + CASE-threshold arithmetic, so the mixing step a
    training run depends on is verified row-for-row, not just in
    aggregate proportions.

    Round 9 adds the ``budget`` arm — quality-ranked selection under a
    10k-token budget (``operators/curation.py::token_budget_select``,
    two-phase: score-bucket running totals classify buckets all-in/
    all-out, the per-doc cumsum window runs only inside the single
    boundary bucket). Every doc's token count AND keep/drop decision
    are hash-checked against the oracle's naive global-cumsum replay
    (ORDER BY rounded score DESC, id), proving two-phase == naive on
    driver data — the same equivalence `stratified_sample` pins in
    pytest, here driver-visible."""
    pin_utc(spark)
    docs = _docs(spark, sf_dir)
    out = cur.mixture_sample(
        docs,
        rates={"en": 0.8, "de": 0.5, "es": 0.25},
        strata_col="lang",
        id_col="doc_id",
        default_rate=0.1,
    )
    mix = out.select(
        F.lit("mix").alias("kind"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws(
            ":", "lang", F.col("sample_bucket").cast("string")
        ).alias("v"),
    )
    scored = tx.quality_score(docs).select(
        "doc_id", "text", F.round("quality_score", 2).alias("qs")
    )
    sel = cur.token_budget_select(scored, budget=10_000, score_col="qs")
    budget_rows = sel.select(
        F.lit("budget").alias("kind"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat_ws(
            ":",
            F.col("_tokens").cast("string"),
            F.col("is_selected").cast("int").cast("string"),
        ).alias("v"),
    )
    # round 9 (cont.): temperature arm — exponent-smoothed mixture
    # rates (operators/curation.py::temperature_rates, alpha=0.5):
    # per-language token counts, shares and keep-rates, each 6dp-
    # rounded then scaled to exact integers (×1e6, round-0) so the
    # union's string column carries them losslessly cross-engine.
    temp_rows = cur.temperature_rates(docs, alpha=0.5).select(
        F.lit("temp").alias("kind"),
        F.col("stratum").alias("k"),
        F.concat_ws(
            ":",
            F.col("n_tokens").cast("string"),
            F.round(F.col("share") * 1e6, 0).cast("long").cast("string"),
            F.round(F.col("rate") * 1e6, 0).cast("long").cast("string"),
        ).alias("v"),
    )
    # round 9 (cont.): up-sampling arm — the replication twin
    # (operators/curation.py::mixture_upsample, fr 2.5x / zh 1.25x /
    # default 1x): every replica row's (doc, copy index, stratum) is
    # hash-checked, the md5-bucket fractional-part arithmetic replayed
    # exactly like the mix arm's.
    up_rows = cur.mixture_upsample(
        docs, rates={"fr": 2.5, "zh": 1.25}, default_rate=1.0
    ).select(
        F.lit("up").alias("kind"),
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.col("copy").cast("string"),
        ).alias("k"),
        F.col("lang").alias("v"),
    )
    # round 10: weighted-sample arm — Efraimidis–Spirakis A-Res top-50
    # by n_chars weight (operators/curation.py::weighted_sample): every
    # drawn doc's identity, draw order AND 6dp ln(u)/w key (scaled to
    # an exact integer like the temp arm) hash-checked against the
    # oracle's identical md5-uniform replay.
    wrs_rows = cur.weighted_sample(docs, k=50, weight_col="n_chars").select(
        F.lit("wrs").alias("kind"),
        F.col("sample_rank").cast("string").alias("k"),
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.round(F.col("es_key") * 1e6, 0).cast("long").cast("string"),
        ).alias("v"),
    )
    return (
        mix.unionByName(budget_rows)
        .unionByName(temp_rows)
        .unionByName(up_rows)
        .unionByName(wrs_rows)
        .orderBy("kind", "k")
    )


_MIXTURE_SQL = f"""
WITH h AS (
    SELECT doc_id, lang,
           md5('mix' || '|' || CAST(doc_id AS VARCHAR)) AS h
    FROM documents
),
b AS (
    SELECT doc_id, lang,
           CAST({_duck_hex7(1)} AS BIGINT) % {cur.SPLIT_BUCKETS} AS sample_bucket
    FROM h
),
qf AS (
    SELECT doc_id, text, {_DUCK_WORDS} AS ws FROM documents
),
qfeat AS (
    SELECT doc_id,
           len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS nt,
           len(ws) AS n_words,
           len(list_filter(ws, x -> lower(x) IN ({_STOP_LIST}))) /
             greatest(len(ws), 1) AS stopword_ratio,
           length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) /
             greatest(length(text), 1) AS punct_ratio,
           length(regexp_replace(text, '[^0-9]', '', 'g')) /
             greatest(length(text), 1) AS digit_ratio
    FROM qf
),
qsc AS (
    SELECT doc_id, nt,
           round(CAST(
             CASE WHEN n_words BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END
             + CASE WHEN stopword_ratio > 0.05 THEN 0.3 ELSE 0.0 END
             + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END
             + CASE WHEN digit_ratio < 0.3 THEN 0.1 ELSE 0.0 END
             AS DOUBLE), 2) AS s
    FROM qfeat
),
brun AS (
    SELECT doc_id, nt,
           sum(nt) OVER (
               ORDER BY s DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS r
    FROM qsc
)
SELECT 'mix' AS kind, CAST(doc_id AS VARCHAR) AS k,
       lang || ':' || CAST(sample_bucket AS VARCHAR) AS v
FROM b
WHERE sample_bucket < CASE lang
    WHEN 'en' THEN 800 WHEN 'de' THEN 500 WHEN 'es' THEN 250
    ELSE 100 END
UNION ALL
SELECT 'budget', CAST(doc_id AS VARCHAR),
       CAST(nt AS VARCHAR) || ':' ||
       CAST(CAST(r <= 10000 AS INT) AS VARCHAR)
FROM brun
UNION ALL
SELECT 'temp', stratum, v FROM (
    -- temperature_rates replay: per-lang token shares, rate =
    -- round(pow(share/min_share, alpha-1), 6), both scaled to exact
    -- integers the same way the Spark arm does
    WITH tper AS (
        SELECT lang AS stratum,
               sum(len(regexp_extract_all(text, '{_TOKEN_RE_SQL}'))) AS nt
        FROM documents GROUP BY 1
    ),
    ttot AS (SELECT sum(nt) AS tot FROM tper),
    tsh AS (
        SELECT stratum, nt, nt / ttot.tot AS share
        FROM tper CROSS JOIN ttot
    ),
    tmn AS (SELECT min(share) AS mn FROM tsh)
    SELECT stratum,
           CAST(nt AS VARCHAR) || ':' ||
           CAST(CAST(round(round(share, 6) * 1e6, 0) AS BIGINT) AS VARCHAR)
             || ':' ||
           CAST(CAST(round(round(pow(share / tmn.mn, -0.5), 6) * 1e6, 0)
                AS BIGINT) AS VARCHAR) AS v
    FROM tsh CROSS JOIN tmn
)
UNION ALL
SELECT 'up', k, v FROM (
    -- mixture_upsample replay: n = floor(rate) + (bucket < frac*1000),
    -- one output row per (doc, copy) replica
    WITH uph AS (
        SELECT doc_id, lang,
               md5('mixup' || '|' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    upb AS (
        SELECT doc_id, lang,
               CAST({_duck_hex7(1)} AS BIGINT) % {cur.SPLIT_BUCKETS}
                 AS bucket
        FROM uph
    ),
    upn AS (
        SELECT doc_id, lang,
               CASE lang
                 WHEN 'fr' THEN 2 + CASE WHEN bucket < 500 THEN 1 ELSE 0 END
                 WHEN 'zh' THEN 1 + CASE WHEN bucket < 250 THEN 1 ELSE 0 END
                 ELSE 1 END AS n
        FROM upb
    )
    SELECT CAST(doc_id AS VARCHAR) || ':' ||
           CAST(unnest(range(0, n)) AS VARCHAR) AS k,
           lang AS v
    FROM upn
)
UNION ALL
SELECT 'wrs', CAST(r AS VARCHAR), v FROM (
    -- weighted_sample replay: A-Res key ln(u)/w, u = (md5-hex[1:13]
    -- int + 1) / 2^52, 6dp round, rank by key DESC with id tie-break
    WITH wh AS (
        SELECT doc_id, n_chars,
               md5('wrs' || '|' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents WHERE n_chars > 0
    ),
    wk AS (
        SELECT doc_id,
               round(ln((CAST({_duck_hexn(1, 13)} AS BIGINT) + 1)
                        / 4503599627370496.0)
                     / n_chars, 6) AS es_key
        FROM wh
    ),
    wr AS (
        SELECT doc_id, es_key,
               row_number() OVER (ORDER BY es_key DESC, doc_id) AS r
        FROM wk
    )
    SELECT r,
           CAST(doc_id AS VARCHAR) || ':' ||
           CAST(CAST(round(es_key * 1e6, 0) AS BIGINT) AS VARCHAR) AS v
    FROM wr WHERE r <= 50
)
ORDER BY kind, k
"""


def q_text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (``operators/text.py::
    tfidf_top_terms``) — distinctive-term extraction with corpus-wide
    document frequencies. tf/df/rank are exact integers; tfidf is
    rounded to 6dp (ln ulps differ across engines) and the ranking
    orders by the ROUNDED score + term, so it is engine-independent.

    Round-11 widening — ``bm25`` arm: Okapi BM25 top-5 retrieval
    (``operators/text.py::bm25_topk``, Lucene positive-idf form,
    k1=1.2 b=0.75) for five fixed term queries over the same corpus,
    riding the tagged schema (query id in ``term``, hit-term count in
    ``tf``, 6dp score in ``tfidf6``). Every ranked hit's score and
    rank are hash-checked against the oracle's full replay."""
    pin_utc(spark)
    docs = _docs(spark, sf_dir)
    base = tx.tfidf_top_terms(docs, k=3).select(
        F.lit("tfidf").alias("kind"),
        "doc_id", "term", "tf", "df", "tfidf6", "rank",
    )
    queries = spark.createDataFrame(
        [
            (0, ["spark", "join", "fast"]),
            (1, ["window", "agg", "stream"]),
            (2, ["customer", "query", "table"]),
            (3, ["hash", "merge"]),
            (4, ["vector", "filter", "big"]),
        ],
        "query_id int, terms array<string>",
    )
    bm = tx.bm25_topk(docs, queries, k=5).select(
        F.lit("bm25").alias("kind"),
        "doc_id",
        F.col("query_id").cast("string").alias("term"),
        F.col("n_hit_terms").cast("long").alias("tf"),
        F.lit(None).cast("long").alias("df"),
        F.col("score6").alias("tfidf6"),
        "rank",
    )
    # round 12 (cont.): RAKE arm (operators/text.py::rake_keywords) —
    # corpus-level keyword extraction (Rose et al. 2010): top-15
    # phrases by the degree/frequency score. Every phrase's 6dp score,
    # word count, corpus frequency and rank position are hash-checked
    # against the oracle's full relational replay of the pinned
    # regex pipeline (phrase freq rides ``tf``, n_words rides ``df``).
    rk = tx.rake_keywords(docs, k=15).select(
        F.lit("rake").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("phrase").alias("term"),
        F.col("freq").cast("long").alias("tf"),
        F.col("n_words").cast("long").alias("df"),
        F.col("score6").alias("tfidf6"),
        F.col("pos").cast("long").alias("rank"),
    )
    # round 12 (cont. 2): TextRank arm (operators/text.py::
    # textrank_keywords) — graph-centrality keywords beside rake's
    # frequency heuristic, COMPOSING operators/graph.py::pagerank with
    # the text layer: PageRank over the word co-occurrence graph
    # (window 2, undirected, dedup'd), words as portable md5 node ids.
    # Every keyword's 6dp rank and position hash-checked against the
    # oracle's replay built from the SHARED pagerank_oracle_ctes
    # generator — one pinned-semantics definition for every PageRank
    # oracle in the repo.
    tr = tx.textrank_keywords(docs, k=15, iterations=5).select(
        F.lit("textrank").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("word").alias("term"),
        F.lit(None).cast("long").alias("tf"),
        F.lit(None).cast("long").alias("df"),
        F.col("rank6").alias("tfidf6"),
        F.col("pos").cast("long").alias("rank"),
    )
    # round 13: WEIGHTED TextRank arm — the paper's actual §4.1 form
    # (co-occurrence multiplicities as integral edge weights), now
    # hash-checkable because pagerank_oracle_ctes grew the weight=
    # branch this round; rides the tagged schema next to the
    # unweighted arm.
    trw = tx.textrank_keywords(docs, k=15, iterations=5, weighted=True).select(
        F.lit("textrankw").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("word").alias("term"),
        F.lit(None).cast("long").alias("tf"),
        F.lit(None).cast("long").alias("df"),
        F.col("rank6").alias("tfidf6"),
        F.col("pos").cast("long").alias("rank"),
    )
    # round 13: unigram-LM Viterbi segmentation arm (operators/
    # tokenizer.py::viterbi_segment — previously pytest-only): the 50
    # most frequent 4-12 char corpus words segment against a
    # corpus-derived piece table (top-40 2/3-gram substrings of those
    # words ranked by occurrence count + all their single chars). The
    # piece logps are DYADIC rationals (-1 - 0.0625·(rank%16) multi,
    # -3.5 single), so every DP path score is an EXACT double in both
    # engines — the segmentation string (term carries word=tok tok…),
    # token count and total logp are all hash-checked against the
    # unrolled-DP replay (tokenizer.viterbi_oracle_ctes, the shared
    # one-definition-per-oracle generator).
    from privacy_cdc_lakehouse_spark.operators import tokenizer as tk
    from pyspark.sql import Window as _W

    occ = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]{2,}"), 0)
        ).alias("w")
    )
    wsel = (
        occ.filter((F.length("w") >= 4) & (F.length("w") <= 12))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "w")
        .limit(50)
        .select(F.col("w").alias("word"))
    )
    _jl = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.length("word") - 1),
            lambda j: F.transform(
                F.sequence(F.lit(2), F.lit(3)),
                lambda l: F.struct(j.alias("j"), l.alias("l")),
            ),
        )
    )
    subs = wsel.select(
        F.explode(
            F.transform(
                F.filter(_jl, lambda p: p["j"] + p["l"] <= F.length("word")),
                lambda p: F.substring(
                    F.col("word"), (p["j"] + 1).cast("int"), p["l"].cast("int")
                ),
            )
        ).alias("piece")
    )
    multi = (
        subs.groupBy("piece")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "piece")
        .limit(40)
        .withColumn(
            "rn", F.row_number().over(_W.orderBy(F.desc("cnt"), F.asc("piece")))
        )
        .select(
            "piece",
            (
                F.lit(-1.0)
                - F.lit(0.0625) * ((F.col("rn") - 1) % 16).cast("double")
            ).alias("logp"),
        )
    )
    singles = (
        wsel.select(F.explode(F.split("word", "")).alias("piece"))
        .filter(F.length("piece") == 1)
        .distinct()
        .select("piece", F.lit(-3.5).alias("logp"))
    )
    vt = tk.viterbi_segment(
        wsel, multi.unionByName(singles), max_piece_len=3
    ).select(
        F.lit("viterbi").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        F.concat(
            F.col("word"), F.lit("="), F.array_join("tokens", " ")
        ).alias("term"),
        F.col("n_tokens").cast("long").alias("tf"),
        F.lit(None).cast("long").alias("df"),
        F.col("logp").alias("tfidf6"),
        F.lit(None).cast("long").alias("rank"),
    )
    # round 13 (cont.): hashing-trick featurization arm (operators/
    # text.py::hashed_features — previously pytest-only): signed
    # hashed bag-of-words at dim=256 for every ~89th doc; values are
    # ±1 sums (integer-valued doubles — exact), buckets/signs portable
    # md5 arithmetic, so every (doc, bucket, value) row hash-checks
    # against the full DuckDB replay. Bucket index rides df, value
    # rides tfidf6.
    fh = tx.hashed_features(
        docs.filter(F.col("doc_id") % 89 == 1), dim=256
    ).select(
        "doc_id",
        F.posexplode(F.arrays_zip("idx", "val")).alias("_p", "_iv"),
    ).select(
        F.lit("fh").alias("kind"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("_iv.idx").cast("string").alias("term"),
        F.lit(None).cast("long").alias("tf"),
        F.col("_iv.idx").cast("long").alias("df"),
        F.col("_iv.val").cast("double").alias("tfidf6"),
        F.lit(None).cast("long").alias("rank"),
    )
    return (
        base.unionByName(bm)
        .unionByName(rk)
        .unionByName(tr)
        .unionByName(trw)
        .unionByName(vt)
        .unionByName(fh)
        .orderBy("kind", "term", "doc_id", "rank")
    )


_TFIDF_SQL = """
WITH terms AS (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z]{2,}')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM terms GROUP BY doc_id, term
),
dfreq AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (
    SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents
),
scored AS (
    SELECT doc_id, term, tf, df,
           round(tf * ln(n_docs / df), 6) AS tfidf6
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf6 DESC, term ASC) AS rank
    FROM scored
),
-- round-11 bm25 arm: same tf/dfreq postings, Lucene positive idf,
-- k1=1.2 b=0.75, stats over docs WITH >=1 term (the posting universe)
bmq(query_id, term) AS (VALUES
    (0, 'spark'), (0, 'join'), (0, 'fast'),
    (1, 'window'), (1, 'agg'), (1, 'stream'),
    (2, 'customer'), (2, 'query'), (2, 'table'),
    (3, 'hash'), (3, 'merge'),
    (4, 'vector'), (4, 'filter'), (4, 'big')
),
bm_dl AS (
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
),
bm_stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS bm_n,
           CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
    FROM bm_dl
),
bm_scored AS (
    SELECT q.query_id, tf.doc_id,
           CAST(count(*) AS BIGINT) AS n_hit_terms,
           round(sum(ln(1 + (bm_n - df + 0.5) / (df + 0.5))
                     * tf * (1.2 + 1)
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6)
             AS score6
    FROM tf
    JOIN bmq q USING (term)
    JOIN dfreq USING (term)
    JOIN bm_dl USING (doc_id)
    CROSS JOIN bm_stats
    GROUP BY 1, 2
),
bm_ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score6 DESC, doc_id ASC) AS rank
    FROM bm_scored
)
SELECT 'tfidf' AS kind, doc_id, term, tf, df, tfidf6,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
UNION ALL
SELECT 'bm25', doc_id, CAST(query_id AS VARCHAR), n_hit_terms,
       CAST(NULL AS BIGINT), score6, CAST(rank AS BIGINT)
FROM bm_ranked WHERE rank <= 5
UNION ALL
-- round-12 rake arm: top-15 corpus keywords (replay of the pinned
-- regex pipeline; word score = deg/freq, phrase score = sum)
SELECT 'rake', CAST(NULL AS BIGINT), phrase, freq, n_words, score6,
       CAST(pos AS BIGINT)
FROM rake_top
UNION ALL
-- round-12 textrank arm: PageRank over the word co-occurrence graph
-- (the iteration CTEs come from the shared pagerank_oracle_ctes)
SELECT 'textrank', CAST(NULL AS BIGINT), word, CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), rank6, CAST(pos AS BIGINT)
FROM tr_top
ORDER BY kind, term, doc_id, rank
"""

_RAKE_ALT = "|".join(sorted(tx.RAKE_STOPWORDS))

_RAKE_CTES = f""",
rake_occ AS (
    SELECT doc_id, k AS pidx, trim(parts[k]) AS phrase
    FROM (
        SELECT doc_id,
               string_split(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(lower(text), '[^a-z\\s]+', ' | ', 'g'),
                           '\\s+', ' ', 'g'),
                       '\\b({_RAKE_ALT})\\b', '|', 'g'),
                   '|') AS parts
        FROM documents
    ), LATERAL (SELECT unnest(generate_series(1, len(parts))) AS k)
    WHERE trim(parts[k]) <> ''
),
rake_w AS (
    SELECT doc_id, pidx, phrase, len(ws) AS n_words, unnest(ws) AS word
    FROM (
        SELECT doc_id, pidx, phrase,
               list_filter(string_split(phrase, ' '), x -> x <> '') AS ws
        FROM rake_occ
    )
),
rake_ws AS (
    SELECT word, CAST(sum(n_words) AS DOUBLE) / count(*) AS wscore
    FROM rake_w GROUP BY word
),
rake_ps AS (
    SELECT doc_id, pidx, phrase, CAST(max(n_words) AS BIGINT) AS n_words,
           round(sum(wscore), 6) AS pscore6
    FROM rake_w JOIN rake_ws USING (word)
    GROUP BY doc_id, pidx, phrase
),
rake_top AS (
    SELECT phrase, CAST(count(*) AS BIGINT) AS freq,
           max(pscore6) AS score6, max(n_words) AS n_words,
           row_number() OVER (ORDER BY max(pscore6) DESC, phrase) AS pos
    FROM rake_ps GROUP BY phrase
    ORDER BY score6 DESC, phrase LIMIT 15
)
"""

def _textrank_ctes(iterations: int = 5, k: int = 15) -> str:
    from privacy_cdc_lakehouse_spark.operators.graph import pagerank_oracle_ctes

    wh = _duck_hexn(1, 13)
    head = f""",
tr_toks AS MATERIALIZED (
    SELECT list_filter(regexp_extract_all(lower(text), '[a-z]{{2,}}'),
                       x -> x NOT IN ('{"', '".join(sorted(tx.RAKE_STOPWORDS))}'))
           AS toks
    FROM documents
),
tr_pairs AS (
    SELECT toks[i] AS w1, toks[i+1] AS w2
    FROM tr_toks,
         LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i)
    UNION ALL
    SELECT toks[i], toks[i+2]
    FROM tr_toks,
         LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i)
),
tr_und AS MATERIALIZED (
    SELECT DISTINCT w1, w2 FROM (
        SELECT w1, w2 FROM tr_pairs WHERE w1 <> w2
        UNION ALL SELECT w2, w1 FROM tr_pairs WHERE w1 <> w2
    )
),
tr_e AS MATERIALIZED (
    SELECT src, CAST({wh} AS BIGINT) AS dst FROM (
        SELECT src, md5('tr|' || w2) AS h FROM (
            SELECT CAST({wh} AS BIGINT) AS src, w2 FROM (
                SELECT md5('tr|' || w1) AS h, w2 FROM tr_und
            )
        )
    )
),
tr_words AS MATERIALIZED (
    SELECT word, CAST({wh} AS BIGINT) AS node FROM (
        SELECT word, md5('tr|' || word) AS h FROM (
            SELECT DISTINCT w1 AS word FROM tr_und
        )
    )
),
{pagerank_oracle_ctes("tr_e", "tr", iterations)},
tr_top AS (
    SELECT word, rank6,
           row_number() OVER (ORDER BY rank6 DESC, word) AS pos
    FROM (
        SELECT w.word, round(r.rank, 6) AS rank6
        FROM tr_r{iterations} r JOIN tr_words w USING (node)
    )
    ORDER BY rank6 DESC, word LIMIT {k}
),
-- round-13 weighted TextRank (Mihalcea & Tarau's actual §4.1 form):
-- co-occurrence MULTIPLICITIES as integral edge weights (exact
-- cross-engine out-weight totals), replayed via the shared
-- generator's weight= branch over the same word-node hash
trw_cnt AS MATERIALIZED (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS cw FROM (
        SELECT w1, w2 FROM tr_pairs WHERE w1 <> w2
        UNION ALL SELECT w2, w1 FROM tr_pairs WHERE w1 <> w2
    ) GROUP BY 1, 2
),
trw_e AS MATERIALIZED (
    SELECT src, CAST({wh} AS BIGINT) AS dst, cw FROM (
        SELECT src, md5('tr|' || w2) AS h, cw FROM (
            SELECT CAST({wh} AS BIGINT) AS src, w2, cw FROM (
                SELECT md5('tr|' || w1) AS h, w2, cw FROM trw_cnt
            )
        )
    )
),
{pagerank_oracle_ctes("trw_e", "trw", iterations, weight="cw")},
trw_top AS (
    SELECT word, rank6,
           row_number() OVER (ORDER BY rank6 DESC, word) AS pos
    FROM (
        SELECT w.word, round(r.rank, 6) AS rank6
        FROM trw_r{iterations} r JOIN tr_words w USING (node)
    )
    ORDER BY rank6 DESC, word LIMIT {k}
)"""
    return head


def _viterbi_ctes() -> str:
    """Words + dyadic-logp piece table (mirrors the Spark arm's
    construction exactly) + the shared unrolled-DP replay."""
    from privacy_cdc_lakehouse_spark.operators.tokenizer import (
        viterbi_oracle_ctes,
    )

    head = """,
vw_words AS MATERIALIZED (
    SELECT term AS word FROM (
        SELECT term, count(*) AS cnt FROM terms
        WHERE length(term) BETWEEN 4 AND 12
        GROUP BY term ORDER BY cnt DESC, term LIMIT 50
    )
),
vw_multi AS MATERIALIZED (
    SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece) AS rn FROM (
        SELECT piece, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT substr(word, j + 1, l) AS piece FROM (
                SELECT w.word, j, l
                FROM vw_words w,
                     LATERAL (SELECT unnest(generate_series(0, length(w.word) - 1)) AS j),
                     LATERAL (SELECT unnest(generate_series(2, 3)) AS l)
                WHERE j + l <= length(w.word)
            )
        ) GROUP BY piece ORDER BY cnt DESC, piece LIMIT 40
    )
),
vw_pieces AS MATERIALIZED (
    SELECT piece, -1.0 - 0.0625 * ((rn - 1) % 16) AS logp FROM vw_multi
    UNION ALL
    SELECT piece, -3.5 AS logp FROM (
        SELECT DISTINCT substr(word, i, 1) AS piece
        FROM vw_words,
             LATERAL (SELECT unnest(generate_series(1, length(word))) AS i)
    )
),
"""
    return head + viterbi_oracle_ctes("vw_words", "vw_pieces", "vt", 12, 3, -20.0)


def _fh_ctes() -> str:
    """hashed_features replay: whitespace tokens, md5 bucket/sign
    nibble arithmetic, signed-collision cancellation filter."""
    b13 = _duck_hexn(1, 13)
    return f""",
fh_tok AS MATERIALIZED (
    SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents WHERE doc_id % 89 = 1
    )
),
fh_feat AS MATERIALIZED (
    SELECT doc_id, idx, sum(s) AS val FROM (
        SELECT doc_id, CAST({b13} % 256 AS BIGINT) AS idx, s FROM (
            SELECT doc_id, md5('fh|' || w) AS h,
                   CASE WHEN (strpos('0123456789abcdef',
                                     substr(md5('fhs|' || w), 1, 1)) - 1)
                            % 2 = 0
                        THEN 1.0 ELSE -1.0 END AS s
            FROM fh_tok
        )
    ) GROUP BY doc_id, idx
    HAVING sum(s) <> 0.0
)"""


_TFIDF_SQL = _TFIDF_SQL.replace(
    "\n)\nSELECT 'tfidf' AS kind,",
    "\n)"
    + _RAKE_CTES
    + _textrank_ctes()
    + _viterbi_ctes()
    + _fh_ctes()
    + "\nSELECT 'tfidf' AS kind,",
)
_TFIDF_SQL = _TFIDF_SQL.replace(
    "ORDER BY kind, term, doc_id, rank",
    """UNION ALL
-- round-13 weighted-textrank arm: co-occurrence-multiplicity weights
-- via the shared generator's weight= branch
SELECT 'textrankw', CAST(NULL AS BIGINT), word, CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), rank6, CAST(pos AS BIGINT)
FROM trw_top
UNION ALL
-- round-13 viterbi arm: segmentation string, token count and total
-- logp from the unrolled-DP replay (dyadic logps => exact doubles)
SELECT 'viterbi', CAST(NULL AS BIGINT), word || '=' || toks, n_tokens,
       CAST(NULL AS BIGINT), logp, CAST(NULL AS BIGINT)
FROM vt_out
UNION ALL
-- round-13 hashing-trick arm: every (doc, bucket, signed value)
SELECT 'fh', doc_id, CAST(idx AS VARCHAR), CAST(NULL AS BIGINT), idx,
       val, CAST(NULL AS BIGINT)
FROM fh_feat
ORDER BY kind, term, doc_id, rank""",
)


def q_dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE Lee et al. 2022-style substring-dedup pipeline over
    the augmented corpus, as a tagged union (round-7 extension of the
    round-6 spans-only row):

    - ``span`` rows — ``operators/dedup.py::duplicate_spans``: every
      duplicated span's doc, start, end, gram count. Islands merge
      whenever gram spans overlap (pos <= prev + 7), so spans are
      maximal and disjoint.
    - ``clean`` rows — ``operators/dedup.py::remove_duplicate_spans``:
      the REMOVAL step; every doc's rebuilt text is md5-verified (k),
      with total/surviving word counts. Docs without spans verify the
      pass-through path (normalized word stream hashes must match).

    The oracle replays both halves: positional-8-gram md5 + count>1 +
    gaps-and-islands, then span coverage + ordered rebuild — pure
    integers plus portable hashes. (The spans subplan feeds both arms;
    at 100 TB persist it between the two, the composition is lazy.)"""
    pin_utc(spark)
    corpus = _augmented(_docs(spark, sf_dir))
    # persist(): the spans OUTPUT is tiny (O(duplicated regions)) but
    # its subplan (explode + corpus-wide dup aggregate + islands
    # window) is the row's cost center, and BOTH arms consume it —
    # materialize once explicitly rather than trusting exchange reuse
    # across the union (sf1: ~5 s of 84, modest because Spark's
    # ReusedExchange already recovers most of it; the persist makes
    # the reuse a contract instead of an optimizer mood). slot_persist
    # bounds the cache to ONE subplan across repeated invocations.
    from privacy_cdc_lakehouse_spark.operators.util import slot_persist

    spans = slot_persist(dd.duplicate_spans(corpus, n=8), "dedup_spans")
    span_rows = spans.select(
        F.lit("span").alias("kind"),
        "doc_id",
        F.lit("").alias("k"),
        F.col("span_start").alias("v1"),
        F.col("span_end").alias("v2"),
        F.col("n_grams").alias("v3"),
    )
    clean_rows = dd.remove_duplicate_spans(corpus, spans).select(
        F.lit("clean").alias("kind"),
        "doc_id",
        F.md5("text_clean").alias("k"),
        F.col("n_words").alias("v1"),
        F.col("n_kept").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
    )
    return span_rows.unionByName(clean_rows).orderBy("kind", "doc_id", "v1")


_DUP_SPANS_SQL = f"""
WITH {_AUG_CTE.strip()},
w AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws
    FROM aug
),
grams AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           md5(array_to_string(ws[CAST(i + 1 AS BIGINT):CAST(i + 8 AS BIGINT)], ' ')) AS g
    FROM (
        SELECT doc_id, ws,
               unnest(range(0, CAST(greatest(len(ws) - 7, 0) AS BIGINT))) AS i
        FROM w WHERE len(ws) >= 8
    )
),
dup AS (
    SELECT g FROM grams GROUP BY g HAVING count(*) > 1
),
d AS (
    SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup)
),
marked AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                  OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 7
                THEN 1 ELSE 0 END AS ni
    FROM d
),
isl AS (
    SELECT doc_id, pos,
           sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM marked
),
sp AS (
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 7 AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_grams
    FROM isl GROUP BY doc_id, island
),
tok AS (
    SELECT doc_id, unnest(range(0, len(ws))) AS pos, ws FROM w
),
tw AS (SELECT doc_id, pos, ws[CAST(pos + 1 AS BIGINT)] AS wd FROM tok),
cov AS (
    SELECT DISTINCT t.doc_id, t.pos
    FROM tw t JOIN sp s
      ON s.doc_id = t.doc_id
     AND t.pos BETWEEN s.span_start AND s.span_end
),
keptw AS (
    SELECT t.doc_id, t.pos, t.wd FROM tw t
    WHERE NOT EXISTS (
        SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos
    )
),
reb AS (
    SELECT doc_id, string_agg(wd, ' ' ORDER BY pos) AS text_clean,
           count(*) AS n_kept
    FROM keptw GROUP BY doc_id
),
tot AS (SELECT doc_id, len(ws) AS n_words FROM w)
SELECT kind, doc_id, k, v1, v2, v3 FROM (
    SELECT 'span' AS kind, doc_id, '' AS k,
           span_start AS v1, span_end AS v2, n_grams AS v3
    FROM sp
    UNION ALL
    SELECT 'clean', t.doc_id, md5(coalesce(r.text_clean, '')),
           CAST(t.n_words AS BIGINT), CAST(coalesce(r.n_kept, 0) AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM tot t LEFT JOIN reb r ON r.doc_id = t.doc_id
)
ORDER BY kind, doc_id, v1
"""


_BPE_MERGES = 16

# Pinned piece vocabulary for the greedy-WordPiece arm (round 15):
# single letters EXCEPT 'q' (so 'query' exercises the whole-word-UNK
# path deterministically) plus corpus-tuned multi-char pieces; the
# oracle replays the identical literal list. Both sides derive the
# lattice bound from the longest BARE match length.
_WP_PIECES = (
    [chr(c) for c in range(ord("a"), ord("z") + 1) if chr(c) != "q"]
    + ["##" + chr(c) for c in range(ord("a"), ord("z") + 1) if chr(c) != "q"]
    + ["the", "table", "##able", "sc", "##an", "win", "##dow", "fast",
       "##ow", "val", "##ue", "merge", "##ge", "cust", "##omer", "##er",
       "col", "##umn", "##ast", "##art"]
)
_WP_MAX_PIECE = max(
    len(p[2:]) if p.startswith("##") else len(p) for p in _WP_PIECES
)
_WP_MAX_WORD = 24  # bounds the oracle's recursion depth; corpus max is 8


def q_text_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (``operators/text.py::chunk_documents``) —
    RAG-ingest prep: fixed 200-char chunks with 40-char overlap over a
    deterministic doc subset. Every chunk's id, index, length AND md5
    of the chunk text are hash-checked — the oracle replays the
    identical stride/substring arithmetic, so the whole chunk
    extraction is verified byte for byte. The plan is a pure
    explode+substring projection: no UDF, no shuffle (chunking scales
    with the scan).

    Round 10 adds the BPE arms (``operators/tokenizer.py`` — the real
    Sennrich et al. 2016 subword recipe, trained on the corpus's
    word-frequency dict): the full 16-entry MERGE TABLE (rank, merged
    pair) and every document's SEGMENTATION (token count + md5 of the
    SEP-joined token sequence) are hash-checked — the oracle replays
    the entire training loop (16 materialized pair-count/argmax/merge
    stages over the identical SEP-padded representation; ``replace``
    has the same leftmost non-overlapping semantics in both engines)
    and the encode join. Arm rows ride the chunk schema under id
    offsets: merge rows at doc_id 20M+rank (chunk_chars_actual = merged
    symbol length), token rows at 30M+doc_id (chunk_chars_actual =
    n_tokens).

    Round 15 adds the greedy-WordPiece INFERENCE arm
    (``operators/tokenizer.py::wordpiece_encode`` — HF's
    longest-match-first algorithm, the round-14 verdict's missing
    tokenizer half): the chunked doc subset re-encodes against the
    pinned ``_WP_PIECES`` vocabulary and every document's token
    sequence md5, token count AND per-doc UNK word count are
    hash-checked at 40M+doc_id (chunk_id carries n_unk_words); the
    oracle replays the greedy matcher as a recursive CTE whose
    LATERAL step takes the longest piece at the current position —
    still one SQL definition per arm, recursion bounded by
    ``_WP_MAX_WORD``."""
    pin_utc(spark)
    from privacy_cdc_lakehouse_spark.operators import tokenizer as tk

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 20 == 0)
    ch = tx.chunk_documents(docs, chunk_chars=200, overlap=40)
    chunk_rows = ch.select(
        "doc_id",
        "chunk_id",
        "chunk_chars_actual",
        F.md5("chunk_text").alias("chunk_md5"),
    )
    corpus = _docs(spark, sf_dir)
    wf = tk.word_frequencies(corpus, lowercase=False)
    merges, vocab = tk.bpe_train(wf, _BPE_MERGES)
    merge_rows = spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, a string, b string",
    ).select(
        (F.col("rank") + 20_000_000).alias("doc_id"),
        F.col("rank").alias("chunk_id"),
        (F.length("a") + F.length("b")).cast("long").alias(
            "chunk_chars_actual"
        ),
        F.md5(F.concat("a", F.lit(tk.SEP), "b")).alias("chunk_md5"),
    )
    tok_rows = tk.bpe_encode(corpus, vocab, lowercase=False).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.lit(0).cast("long").alias("chunk_id"),
        F.col("n_tokens").alias("chunk_chars_actual"),
        F.md5(F.array_join("tokens", tk.SEP)).alias("chunk_md5"),
    )
    wp_pieces = spark.createDataFrame(
        [(p,) for p in _WP_PIECES], "piece string"
    )
    wp_rows = tk.wordpiece_encode(
        docs,
        wp_pieces,
        lowercase=False,
        max_piece_chars=_WP_MAX_PIECE,
        max_word_chars=_WP_MAX_WORD,
    ).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"),
        F.col("n_unk_words").cast("long").alias("chunk_id"),
        F.col("n_tokens").alias("chunk_chars_actual"),
        F.md5(F.array_join("tokens", tk.SEP)).alias("chunk_md5"),
    )
    return (
        chunk_rows.unionByName(merge_rows)
        .unionByName(tok_rows)
        .unionByName(wp_rows)
        .orderBy("doc_id", "chunk_id")
    )


def _bpe_oracle_ctes(k: int) -> str:
    # One MATERIALIZED stage pair per merge (DuckDB inlines plain CTEs,
    # which re-executes the whole chain per reference — the same lazy
    # re-execution trap connected_components hit in Spark): p{i} is the
    # argmax pair of round i, r{i} the dictionary after applying it.
    stages = []
    for i in range(1, k + 1):
        stages.append(f"""
bp{i} AS MATERIALIZED (
    SELECT string_split(pair, chr(31))[1] AS a, string_split(pair, chr(31))[2] AS b
    FROM (
      SELECT unnest(list_transform(range(1, len(syms)),
                    j -> syms[j] || chr(31) || syms[j+1])) AS pair, freq
      FROM (SELECT freq,
                   list_filter(string_split(repr, chr(31)), x -> x <> '') AS syms
            FROM br{i - 1})
    ) GROUP BY pair ORDER BY sum(freq) DESC, a, b LIMIT 1
),
br{i} AS MATERIALIZED (
    SELECT word, freq,
           replace(repr,
             chr(31) || (SELECT a FROM bp{i}) || chr(31) || (SELECT b FROM bp{i}) || chr(31),
             chr(31) || (SELECT a FROM bp{i}) || (SELECT b FROM bp{i}) || chr(31)) AS repr
    FROM br{i - 1}
)""")
    return ",".join(stages)


def _bpe_merge_selects(k: int) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT CAST(20000000 + {i} AS BIGINT) AS doc_id, "
        f"CAST({i} AS BIGINT) AS chunk_id, "
        f"(SELECT CAST(length(a) + length(b) AS BIGINT) FROM bp{i}) AS chunk_chars_actual, "
        f"(SELECT md5(a || chr(31) || b) FROM bp{i}) AS chunk_md5"
        for i in range(1, k + 1)
    )


_CHUNK_SQL = f"""
WITH RECURSIVE d AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE doc_id % 20 = 0
),
e AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(greatest(ceil((n - 40) / 160.0), 1) AS BIGINT)))
           AS chunk_id
  FROM d WHERE n > 0
),
c AS (
  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         substring(text, CAST(chunk_id * 160 + 1 AS INT), 200) AS chunk_text
  FROM e
),
bw AS (
  SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents
),
bwf AS (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest(ws) AS word FROM bw) GROUP BY 1
),
br0 AS MATERIALIZED (
  SELECT word, freq,
         chr(31) || regexp_replace(word, '(.)', '\\1' || chr(31), 'g')
                 || '</w>' || chr(31) AS repr
  FROM bwf
),
{{_BPE_STAGES}},
bvocab AS MATERIALIZED (
  SELECT word,
         list_filter(string_split(repr, chr(31)), x -> x <> '') AS toks
  FROM br{{_BPE_K}}
),
bcw AS (
  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos FROM bw
),
bdt AS (
  SELECT bcw.doc_id, flatten(list(bvocab.toks ORDER BY bcw.pos)) AS tokens
  FROM bcw JOIN bvocab ON bvocab.word = bcw.word
  GROUP BY bcw.doc_id
),
btok AS (
  SELECT d2.doc_id,
         coalesce(bdt.tokens, CAST([] AS VARCHAR[])) AS tokens
  FROM (SELECT doc_id FROM documents) d2
  LEFT JOIN bdt ON bdt.doc_id = d2.doc_id
),
-- greedy-WordPiece inference arm (round 15): recursive longest-match
-- replay of operators/tokenizer.py::wordpiece_segment over the same
-- pinned literal vocabulary; one deterministic successor per word per
-- step, terminal rows are the ones with pos >= len(word)
wpw AS (
  SELECT doc_id, {{_WP_WORDS}} AS ws FROM documents WHERE doc_id % 20 = 0
),
wpdist AS (SELECT DISTINCT unnest(ws) AS word FROM wpw),
wppieces(piece) AS (VALUES {{_WP_VALUES}}),
wpstep AS (
  SELECT word,
         CAST(CASE WHEN len(word) > {{_WP_MAXW}} THEN len(word) ELSE 0 END
              AS BIGINT) AS pos,
         CASE WHEN len(word) > {{_WP_MAXW}} THEN ['[UNK]']
              ELSE CAST([] AS VARCHAR[]) END AS toks
  FROM wpdist
  UNION ALL
  SELECT s.word,
         CAST(CASE WHEN b.tok IS NULL THEN len(s.word)
                   ELSE s.pos + b.l END AS BIGINT),
         CASE WHEN b.tok IS NULL THEN ['[UNK]'] ELSE s.toks || [b.tok] END
  FROM wpstep s
  LEFT JOIN LATERAL (
    SELECT l, tok FROM (
      SELECT CAST(ln AS BIGINT) AS l,
             CASE WHEN s.pos = 0
                  THEN substr(s.word, CAST(s.pos + 1 AS INT), CAST(ln AS INT))
                  ELSE '##' ||
                       substr(s.word, CAST(s.pos + 1 AS INT), CAST(ln AS INT))
             END AS tok
      FROM range(1, {{_WP_MAXP}} + 1) r(ln)
      WHERE ln <= len(s.word) - s.pos
    ) WHERE tok IN (SELECT piece FROM wppieces)
    ORDER BY l DESC LIMIT 1
  ) b ON TRUE
  WHERE s.pos < len(s.word)
),
wpfinal AS (
  SELECT word, toks, toks = ['[UNK]'] AS is_unk
  FROM wpstep WHERE pos >= len(word)
),
wpcw AS (
  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos
  FROM wpw
),
wpdt AS (
  SELECT wpcw.doc_id, flatten(list(wpfinal.toks ORDER BY wpcw.pos)) AS tokens,
         sum(CASE WHEN wpfinal.is_unk THEN 1 ELSE 0 END) AS n_unk
  FROM wpcw JOIN wpfinal ON wpfinal.word = wpcw.word
  GROUP BY wpcw.doc_id
),
wptok AS (
  SELECT d4.doc_id,
         coalesce(wpdt.tokens, CAST([] AS VARCHAR[])) AS tokens,
         coalesce(wpdt.n_unk, 0) AS n_unk
  FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 0) d4
  LEFT JOIN wpdt ON wpdt.doc_id = d4.doc_id
)
SELECT * FROM (
  SELECT doc_id, chunk_id,
         CAST(length(chunk_text) AS BIGINT) AS chunk_chars_actual,
         md5(chunk_text) AS chunk_md5
  FROM c
  UNION ALL
  {{_BPE_MERGE_ROWS}}
  UNION ALL
  SELECT CAST(30000000 + doc_id AS BIGINT), CAST(0 AS BIGINT),
         CAST(len(tokens) AS BIGINT),
         md5(coalesce(array_to_string(tokens, chr(31)), ''))
  FROM btok
  UNION ALL
  SELECT CAST(40000000 + doc_id AS BIGINT), CAST(n_unk AS BIGINT),
         CAST(len(tokens) AS BIGINT),
         md5(coalesce(array_to_string(tokens, chr(31)), ''))
  FROM wptok
) ORDER BY doc_id, chunk_id
"""
_CHUNK_SQL = (
    _CHUNK_SQL.replace("{_BPE_STAGES}", _bpe_oracle_ctes(_BPE_MERGES))
    .replace("{_BPE_K}", str(_BPE_MERGES))
    .replace("{_BPE_MERGE_ROWS}", _bpe_merge_selects(_BPE_MERGES))
    .replace("{_WP_WORDS}", _DUCK_WORDS)
    .replace("{_WP_VALUES}", ", ".join(f"('{p}')" for p in _WP_PIECES))
    .replace("{_WP_MAXW}", str(_WP_MAX_WORD))
    .replace("{_WP_MAXP}", str(_WP_MAX_PIECE))
)


def q_multimodal_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-feature decode + resize/frame-sample transform stats in
    one tagged union (round-6 consolidation: ``multimodal_binary_
    features`` + ``multimodal_transform_stats`` — both ORIGINAL
    mapInPandas plans run unchanged via the callables above; freed a
    registry slot for ``text_tfidf_topterms``)."""
    pin_utc(spark)
    feats = q_multimodal_binary_features(spark, sf_dir).select(
        F.lit("features").alias("kind"),
        F.col("doc_id").cast("long").alias("k"),
        F.col("n_bytes").cast("long").alias("v1"),
        F.col("first_byte").cast("long").alias("v2"),
        F.col("checksum_mod").cast("long").alias("v3"),
    )
    stats = q_multimodal_transform_stats(spark, sf_dir).select(
        "kind",
        F.col("k").cast("long").alias("k"),
        F.col("n_docs").cast("long").alias("v1"),
        F.col("total_bytes").cast("long").alias("v2"),
        F.lit(None).cast("long").alias("v3"),
    )
    return feats.unionByName(stats).orderBy("kind", "k")


def _multimodal_panel_sql() -> str:
    return f"""
SELECT 'features' AS kind, doc_id AS k, n_bytes AS v1,
       CAST(first_byte AS BIGINT) AS v2, CAST(checksum_mod AS BIGINT) AS v3
FROM ({_MULTIMODAL_SQL}) feats
UNION ALL
SELECT kind, k, n_docs, total_bytes, CAST(NULL AS BIGINT)
FROM ({_TRANSFORM_STATS_SQL}) stats
ORDER BY kind, k
"""


def q_text_quality_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion + quality-score histogram + Gopher-style
    repetition-signal histograms + per-language quality-feature
    aggregates in one tagged union (rounds 5/6/7 registry
    consolidation; all original plans run unchanged via the original
    callables — the ``stats`` arm is the former ``text_stats_by_lang``
    row, folded in round 7 to free a slot for ``corpus_profile``).
    Values ride one double column (counts are small enough to be
    exact; the avg ratios were already 6dp-rounded on both sides)."""
    pin_utc(spark)
    lang = q_lang_id_confusion(spark, sf_dir).select(
        F.lit("lang").alias("kind"),
        F.concat_ws(":", F.col("lang"), F.col("lang_pred")).alias("k"),
        F.col("n").cast("double").alias("v"),
    )
    qual = q_quality_histogram(spark, sf_dir).select(
        F.lit("quality").alias("kind"),
        F.col("quality_score").cast("string").alias("k"),
        F.col("n_docs").cast("double").alias("v"),
    )
    rep = q_repetition_histogram(spark, sf_dir).select(
        F.lit("rep").alias("kind"),
        F.concat_ws(":", F.col("metric"), F.col("bucket").cast("string")).alias("k"),
        F.col("n").cast("double").alias("v"),
    )
    stats = (
        q_text_stats_by_lang(spark, sf_dir)
        .selectExpr(
            "lang",
            "stack(8, "
            "'n_docs', CAST(n_docs AS DOUBLE), "
            "'total_words', CAST(total_words AS DOUBLE), "
            "'total_tokens', CAST(total_tokens AS DOUBLE), "
            "'avg_stopword_ratio', avg_stopword_ratio, "
            "'avg_punct_ratio', avg_punct_ratio, "
            "'total_sentences', CAST(total_sentences AS DOUBLE), "
            "'total_syllables', CAST(total_syllables AS DOUBLE), "
            "'avg_fk_grade', avg_fk_grade) AS (m, v)",
        )
        .select(
            F.lit("stats").alias("kind"),
            F.concat_ws(":", F.col("lang"), F.col("m")).alias("k"),
            "v",
        )
    )
    # round 7 (cont.): perplexity-filter arm — per-doc mean unigram
    # log-prob under the corpus-trained LM, bucketed by integer floor
    # of the 6dp-rounded mean (engine-stable: round absorbs summation-
    # order slack, floor of the rounded value is then exact)
    docs = _docs(spark, sf_dir)
    # ONE corpus unigram LM feeds the lm, ppl and dsir arms (it used to
    # be re-built per consumer — 6 full explode+agg passes per collect)
    lm_all = tx.unigram_lm(docs)
    lp = tx.doc_logprob(docs, lm_all)
    lm_rows = (
        lp.select(
            F.floor(F.col("mean_logp") * 10).cast("long").alias("b")
        )
        .groupBy("b")
        .count()
        .select(
            F.lit("lm").alias("kind"),
            F.concat(F.lit("bucket_"), F.col("b")).alias("k"),
            F.col("count").cast("double").alias("v"),
        )
    )
    # round 12: CCNet perplexity-bucket arm (operators/text.py::
    # perplexity_buckets — Wenzek et al. 2020 head/middle/tail): the
    # SAME per-doc unigram scores cut into terciles via the fixed-grid
    # histogram thresholds (n_bins=1000, the PSI binning discipline —
    # deliberately not a global ntile sort). EVERY doc's bucket is
    # hash-checked: k = doc id, v encodes head=2 / middle=1 / tail=0.
    ppl_rows = tx.perplexity_buckets(lp).select(
        F.lit("ppl").alias("kind"),
        F.col("doc_id").cast("string").alias("k"),
        F.when(F.col("ppl_bucket") == "head", F.lit(2.0))
        .when(F.col("ppl_bucket") == "middle", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("v"),
    )
    # round 9 (cont.): bigram-LM arm — stupid-backoff scoring
    # (operators/text.py::bigram_lm / doc_bigram_logprob). Models train
    # on the EVEN-id half and score the whole corpus so the backoff
    # paths (unseen bigram → ln(0.4)+unigram; unseen word → floor)
    # genuinely fire on odd docs; same deci-bucket histogram contract
    # as the unigram lm arm.
    even = docs.filter(F.col("doc_id") % 2 == 0)
    lp2 = tx.doc_bigram_logprob(
        docs, tx.bigram_lm(even), tx.unigram_lm(even)
    )
    lm2_rows = (
        lp2.select(
            F.floor(F.col("mean_logp") * 10).cast("long").alias("b")
        )
        .groupBy("b")
        .count()
        .select(
            F.lit("lm2").alias("kind"),
            F.concat(F.lit("bucket_"), F.col("b")).alias("k"),
            F.col("count").cast("double").alias("v"),
        )
    )
    # round 11: Kneser-Ney arm — the principled-smoothing twin of lm2
    # (operators/text.py::kneser_ney_bigram_lm / doc_kn_logprob): same
    # even-half training / whole-corpus scoring split so unseen-bigram
    # (λ·P_cont), unseen-context (P_cont) and unseen-word (floor)
    # paths all genuinely fire; same deci-bucket histogram contract.
    kn_b, kn_c, kn_q = tx.kneser_ney_bigram_lm(even)
    kn_rows = (
        tx.doc_kn_logprob(docs, kn_b, kn_c, kn_q)
        .select(F.floor(F.col("mean_logp") * 10).cast("long").alias("b"))
        .groupBy("b")
        .count()
        .select(
            F.lit("kn").alias("kind"),
            F.concat(F.lit("bucket_"), F.col("b")).alias("k"),
            F.col("count").cast("double").alias("v"),
        )
    )
    # round 9: normalize_text arm — driver visibility for the
    # (sanctioned, ingest-path) Unicode normalizer, previously
    # pytest-only. The fixture corpus is pure ASCII (verified per sf),
    # so planting a decomposed e+combining-acute on every 3rd doc and
    # an NFKC-only fi-ligature on every 3rd+1 doc makes the
    # changed-under-normalization counts exact integers the oracle
    # replicates from the planting arithmetic alone: NFC recomposes
    # only the planted decomposed pair; NFKC additionally splits the
    # ligature. md5 equality detects any byte change.
    planted = docs.select(
        F.when(
            F.col("doc_id") % 3 == 0,
            # decomposed e + U+0301 combining acute, escaped so no
            # editor/tool can silently NFC-compose the source file
            F.concat(F.col("text"), F.lit(" Cafe\u0301")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            # U+FB01 fi ligature: NFC-stable, NFKC splits it to "fi"
            F.concat(F.col("text"), F.lit(" \ufb01ne")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    norm_rows = planted.select(
        (F.md5("text") != F.md5(tx.normalize_text(F.col("text"), "NFC")))
        .cast("int")
        .alias("_nfc"),
        (F.md5("text") != F.md5(tx.normalize_text(F.col("text"), "NFKC")))
        .cast("int")
        .alias("_nfkc"),
    ).agg(
        F.sum("_nfc").cast("double").alias("nfc_changed"),
        F.sum("_nfkc").cast("double").alias("nfkc_changed"),
    ).selectExpr(
        "stack(2, 'nfc_changed', nfc_changed, "
        "'nfkc_changed', nfkc_changed) AS (k, v)"
    ).select(F.lit("norm").alias("kind"), "k", "v")
    # round 9 (cont.): markup-strip arm — the extraction-cleanup
    # operator (operators/text.py::strip_markup) verified by planting
    # arithmetic like the norm arm: the fixture is markup- and
    # collapsible-whitespace-free (verified per sf), so a tag+entity
    # plant on doc_id % 5 == 0 and an escaped-entity plant on
    # % 5 == 1 make both the changed-doc count AND the exact total
    # char delta (11 per tag plant, 6 per entity plant) integers the
    # oracle derives from counts alone.
    planted_m = docs.select(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" <b>bold</b> &amp; more")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.col("text"), F.lit(" x &lt;tag&gt; y")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).withColumn("_stripped", tx.strip_markup(F.col("text")))
    markup_rows = planted_m.select(
        (F.md5("text") != F.md5("_stripped")).cast("int").alias("_chg"),
        (F.length("text") - F.length("_stripped")).cast("long").alias("_d"),
    ).agg(
        F.sum("_chg").cast("double").alias("changed"),
        F.sum("_d").cast("double").alias("char_delta"),
    ).selectExpr(
        "stack(2, 'changed', changed, 'char_delta', char_delta) AS (k, v)"
    ).select(F.lit("markup").alias("kind"), "k", "v")
    # round 9 (cont.): trained-classifier arm — multinomial Naive
    # Bayes (operators/text.py::nb_model / nb_classify), the
    # fastText-style supervised curation gate. Train on the even-id
    # half, score the odd-id holdout, emit the full confusion matrix
    # (true lang × predicted label) — exact integers once the 4dp
    # score round pins the per-doc argmax, which the oracle replays
    # term for term (6dp-rounded model, 4dp-rounded scores,
    # smallest-label tie-break).
    nb_pred = tx.nb_classify(
        docs.filter(F.col("doc_id") % 2 == 1),
        tx.nb_model(docs.filter(F.col("doc_id") % 2 == 0), label_col="lang"),
    )
    nbc_rows = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang")
        .join(nb_pred, "doc_id")
        .groupBy("lang", "label_pred")
        .count()
        .select(
            F.lit("nbc").alias("kind"),
            F.concat_ws(":", F.col("lang"), F.col("label_pred")).alias("k"),
            F.col("count").cast("double").alias("v"),
        )
    )
    # round 9 (cont.): DSIR arm — importance-resampling log-weights
    # (operators/text.py::dsir_logweights): target LM = the English
    # slice, raw LM = the full corpus, per-doc Σ log-ratio rounded 4dp
    # (the nb_classify-proven precision). Emitted as integer-floor
    # weight buckets (one mis-weighted doc shifts a bucket) plus the
    # exact top-10 most-target-like doc ids (rank over the rounded
    # weight, id tie-break — the deterministic resampling stand-in).
    dw = tx.dsir_logweights(
        docs, tx.unigram_lm(docs.filter(F.col("lang") == "en")), lm_all
    )
    dsir_buckets = (
        dw.select(F.floor("log_weight").cast("long").alias("b"))
        .groupBy("b")
        .count()
        .select(
            F.lit("dsir").alias("kind"),
            F.concat(F.lit("bucket_"), F.col("b")).alias("k"),
            F.col("count").cast("double").alias("v"),
        )
    )
    top = dw.orderBy(F.desc("log_weight"), F.asc("doc_id")).limit(10)
    dsir_top = top.select(
        F.lit("dsir").alias("kind"),
        F.concat(
            F.lit("top_"),
            F.lpad(
                F.row_number()
                .over(
                    Window.orderBy(F.desc("log_weight"), F.asc("doc_id"))
                )
                .cast("string"),
                2,
                "0",
            ),
        ).alias("k"),
        F.col("doc_id").cast("double").alias("v"),
    )
    # round 10: BLEU arm — the generation-eval metric
    # (operators/text.py::bleu_pair_stats / bleu_scores), Papineni et
    # al. 2002. Candidate = the doc lowercased with punctuation
    # stripped vs reference = the original text: realistic
    # non-identical pairs whose divergence is deterministic. ONE
    # slot-persisted gram pass feeds BOTH the per-doc sentence-BLEU
    # deci-bucket histogram (floor of the 6dp-rounded score — the lm
    # arm's engine-stability contract) and the pooled corpus-level
    # bp/p1..p4/bleu row.
    from privacy_cdc_lakehouse_spark.operators.util import slot_persist

    # both eval arms run on the deterministic doc_id % 5 == 0 subset:
    # full verification power at sf0.01 (100 hash-checked pairs), 5x
    # less gate cost at sf1 (the corpus-wide pass belongs to the
    # operators' own scale rows, not this panel)
    eval_docs = docs.filter(F.col("doc_id") % 5 == 0)
    # bpairs feeds four arms (bleu stats, rouge-1, rouge-2, chrf)
    bpairs = eval_docs.select(
        F.col("doc_id").alias("pair_id"),
        F.lower(
            F.regexp_replace(F.col("text"), r"[^A-Za-z0-9\s]", "")
        ).alias("cand"),
        F.col("text").alias("ref"),
    )
    bstats = slot_persist(tx.bleu_pair_stats(bpairs), "bleu_stats")
    bleu_buckets = (
        tx.bleu_scores(bstats)
        .select(F.floor(F.col("bleu") * 10).cast("long").alias("b"))
        .groupBy("b")
        .count()
        .select(
            F.lit("bleu").alias("kind"),
            F.concat(F.lit("bucket_"), F.col("b")).alias("k"),
            F.col("count").cast("double").alias("v"),
        )
    )
    bleu_corpus = (
        tx.bleu_scores(tx.pool_bleu_stats(bstats))
        .selectExpr(
            "stack(6, 'corpus_bp', bp, 'corpus_p1', p1, 'corpus_p2', p2, "
            "'corpus_p3', p3, 'corpus_p4', p4, 'corpus_bleu', bleu)"
            " AS (k, v)"
        )
        .select(F.lit("bleu").alias("kind"), "k", "v")
    )
    # round 10 (cont.): ROUGE-L arm — the LCS (subsequence) half of
    # generation eval. The LCS DP has no relational form (sanctioned
    # Arrow path, normalize_text's standing), so the driver contract
    # uses DELETION-ONLY planted candidates: drop every 3rd token of
    # the first-90-token reference — the candidate is then a
    # subsequence, making the TRUE LCS exactly the candidate length, so
    # the oracle derives every pair's F-score from lengths alone. A DP
    # that miscounts even one known-LCS pair breaks the hash;
    # general-case LCS values are pytest-pinned.
    ref90 = F.slice(tx.words(F.col("text")), 1, 90)
    cand_arr = F.filter(ref90, lambda x, i: (i + 1) % 3 != 0)
    rpairs = eval_docs.select(
        F.col("doc_id").alias("pair_id"),
        F.array_join(cand_arr, " ").alias("cand"),
        F.array_join(ref90, " ").alias("ref"),
    )
    rouge_rows = tx.rouge_l(rpairs).select(
        F.lit("rouge").alias("kind"),
        F.col("pair_id").cast("string").alias("k"),
        F.col("rouge_f").alias("v"),
    )
    # round 11: ROUGE-N arm (operators/text.py::rouge_n) — the n-gram
    # ROUGE half, fully relational, on the SAME bleu pairs (punct-
    # stripped candidate vs original reference): per-pair ROUGE-1 and
    # ROUGE-2 F-scores, every one hash-checked against the oracle's
    # clipped-gram replay (which shares the bleu CTE construction).
    rougen_rows = None
    for rn in (1, 2):
        rows = tx.rouge_n(bpairs, n=rn).select(
            F.lit("rougen").alias("kind"),
            F.concat(
                F.lit(f"f{rn}_"), F.col("pair_id").cast("string")
            ).alias("k"),
            F.col("rouge_f").alias("v"),
        )
        rougen_rows = rows if rougen_rows is None else rougen_rows.unionByName(rows)
    # round 12 (cont.): chrF arm (operators/text.py::chrf — Popović
    # 2015 at sacrebleu chrF2 defaults: character 1..6-grams, β=2,
    # whitespace stripped, effective-order averaging) on the SAME
    # bleu pairs; every pair's 6dp score hash-checked against the
    # oracle's per-order clipped-gram replay (ordered-aggregate folds
    # on both sides keep the float summation order pinned).
    chrf_rows = tx.chrf(bpairs).select(
        F.lit("chrf").alias("kind"),
        F.col("pair_id").cast("string").alias("k"),
        F.col("chrf").alias("v"),
    )
    return (
        lang.unionByName(qual)
        .unionByName(rep)
        .unionByName(stats)
        .unionByName(lm_rows)
        .unionByName(lm2_rows)
        .unionByName(kn_rows)
        .unionByName(norm_rows)
        .unionByName(markup_rows)
        .unionByName(nbc_rows)
        .unionByName(dsir_buckets)
        .unionByName(dsir_top)
        .unionByName(bleu_buckets)
        .unionByName(bleu_corpus)
        .unionByName(rouge_rows)
        .unionByName(rougen_rows)
        .unionByName(ppl_rows)
        .unionByName(chrf_rows)
        .orderBy("kind", "k")
    )


_TEXT_QUALITY_PANEL_SQL = f"""
SELECT 'lang' AS kind, lang || ':' || lang_pred AS k, CAST(n AS DOUBLE) AS v
FROM ({_LANG_ID_SQL})
UNION ALL
SELECT 'quality', CAST(quality_score AS VARCHAR), CAST(n_docs AS DOUBLE)
FROM ({_QUALITY_SQL})
UNION ALL
SELECT 'rep', metric || ':' || CAST(bucket AS VARCHAR), CAST(n AS DOUBLE)
FROM ({_REPETITION_SQL})
UNION ALL
SELECT 'stats', lang || ':' || m, v FROM (
    SELECT lang,
           unnest(ARRAY['n_docs', 'total_words', 'total_tokens',
                        'avg_stopword_ratio', 'avg_punct_ratio',
                        'total_sentences', 'total_syllables',
                        'avg_fk_grade']) AS m,
           unnest(ARRAY[CAST(n_docs AS DOUBLE), CAST(total_words AS DOUBLE),
                        CAST(total_tokens AS DOUBLE), avg_stopword_ratio,
                        avg_punct_ratio, CAST(total_sentences AS DOUBLE),
                        CAST(total_syllables AS DOUBLE), avg_fk_grade]) AS v
    FROM ({_TEXT_STATS_SQL})
)
UNION ALL
SELECT 'norm', k, v FROM (
    -- planting arithmetic (the corpus is pure ASCII, verified per sf):
    -- NFC changes exactly the docs planted with the decomposed pair
    -- (doc_id % 3 = 0); NFKC additionally splits the fi ligature
    -- planted on doc_id % 3 = 1
    SELECT 'nfc_changed' AS k,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 3 = 0)
                AS DOUBLE) AS v
    UNION ALL
    SELECT 'nfkc_changed',
           CAST((SELECT count(*) FROM documents WHERE doc_id % 3 IN (0, 1))
                AS DOUBLE)
)
UNION ALL
SELECT 'markup', k, v FROM (
    -- planting arithmetic (corpus markup-free and whitespace-clean,
    -- verified per sf): both plant classes change under strip; the
    -- char delta is 11 per tag plant (%5=0) and 6 per entity plant
    SELECT 'changed' AS k,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 5 IN (0, 1))
                AS DOUBLE) AS v
    UNION ALL
    SELECT 'char_delta',
           CAST((SELECT sum(CASE WHEN doc_id % 5 = 0 THEN 11
                                 WHEN doc_id % 5 = 1 THEN 6
                                 ELSE 0 END) FROM documents) AS DOUBLE)
)
UNION ALL
SELECT 'lm', 'bucket_' || CAST(b AS VARCHAR), CAST(count(*) AS DOUBLE) FROM (
    WITH lmw AS (
        SELECT doc_id, lower(unnest({_DUCK_WORDS})) AS w FROM documents
    ),
    lmc AS (SELECT w, count(*) AS n FROM lmw GROUP BY w),
    lmt AS (SELECT sum(n) AS total FROM lmc),
    lmd AS (
        SELECT l.doc_id, round(avg(ln(c.n / t.total)), 6) AS mlp
        FROM lmw l JOIN lmc c USING (w) CROSS JOIN lmt t
        GROUP BY l.doc_id
    )
    SELECT CAST(floor(mlp * 10) AS BIGINT) AS b FROM lmd
) GROUP BY b
UNION ALL
-- CCNet perplexity-bucket replay (round 12): the same per-doc unigram
-- scores, tercile thresholds from a 1000-bin fixed-width histogram
-- over the 6dp-rounded score (bin upper edges at cumulative 1/3 and
-- 2/3), per-doc bucket encoded head=2 / middle=1 / tail=0 — identical
-- IEEE arithmetic to operators/text.py::perplexity_buckets
SELECT 'ppl', CAST(doc_id AS VARCHAR),
       CASE WHEN t1 IS NULL THEN 2.0
            WHEN score6 > t2 THEN 2.0
            WHEN score6 > t1 THEN 1.0 ELSE 0.0 END
FROM (
    WITH pw AS (
        SELECT doc_id, lower(unnest({_DUCK_WORDS})) AS w FROM documents
    ),
    pc AS (SELECT w, count(*) AS n FROM pw GROUP BY w),
    pt AS (SELECT sum(n) AS total FROM pc),
    pd AS (
        SELECT l.doc_id, round(avg(ln(c.n / t.total)), 6) AS score6
        FROM pw l JOIN pc c USING (w) CROSS JOIN pt t
        GROUP BY l.doc_id
    ),
    pbounds AS (SELECT min(score6) AS lo, max(score6) AS hi FROM pd),
    pcnt AS (
        SELECT CAST(greatest(0, least(999,
                   floor((score6 - lo) / ((hi - lo) / 1000.0)))) AS INT)
                 AS bin,
               count(*) AS n
        FROM pd, pbounds GROUP BY 1
    ),
    pcum AS (
        SELECT bin, sum(n) OVER (ORDER BY bin) / sum(n) OVER () AS cum
        FROM pcnt
    ),
    pcuts AS (
        SELECT lo + (min(CASE WHEN cum >= 1.0 / 3.0 THEN bin END) + 1)
                    * ((hi - lo) / 1000.0) AS t1,
               lo + (min(CASE WHEN cum >= 2.0 / 3.0 THEN bin END) + 1)
                    * ((hi - lo) / 1000.0) AS t2
        FROM pcum, pbounds GROUP BY lo, hi
    )
    SELECT pd.doc_id, pd.score6, pcuts.t1, pcuts.t2
    FROM pd CROSS JOIN pcuts
)
UNION ALL
SELECT 'nbc', k, v FROM (
    -- multinomial NB replay: 6dp-rounded Laplace model trained on the
    -- even-id half, 4dp-rounded per-(doc,label) scores over the
    -- odd-id holdout, argmax with smallest-label tie-break
    WITH nbt AS (
        SELECT lang AS label, lower(unnest({_DUCK_WORDS})) AS w
        FROM documents WHERE doc_id % 2 = 0
    ),
    ncw AS (SELECT label, w, count(*) AS n FROM nbt GROUP BY 1, 2),
    ncl AS (SELECT label, sum(n) AS n_l FROM ncw GROUP BY 1),
    nv AS (SELECT count(DISTINCT w) AS v FROM ncw),
    npr AS (
        SELECT lang AS label, count(*) AS nd
        FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    ntd AS (SELECT sum(nd) AS td FROM npr),
    nlab AS (
        SELECT t.label,
               round(ln(1.0 / (t.n_l + 1.0 * nv.v)), 6) AS floor_logp,
               round(ln(p.nd / ntd.td), 6) AS log_prior
        FROM ncl t CROSS JOIN nv JOIN npr p USING (label) CROSS JOIN ntd
    ),
    nmod AS (
        SELECT c.label, c.w,
               round(ln((c.n + 1.0) / (t.n_l + 1.0 * nv.v)), 6) AS logp
        FROM ncw c JOIN ncl t USING (label) CROSS JOIN nv
    ),
    nst AS (
        SELECT doc_id, lang AS true_label, lower(unnest({_DUCK_WORDS})) AS w
        FROM documents WHERE doc_id % 2 = 1
    ),
    nsc AS (
        SELECT s.doc_id, s.true_label, l.label,
               round(sum(coalesce(m.logp, l.floor_logp))
                     + min(l.log_prior), 4) AS score
        FROM nst s CROSS JOIN nlab l
        LEFT JOIN nmod m ON m.label = l.label AND m.w = s.w
        GROUP BY 1, 2, 3
    ),
    npred AS (
        SELECT doc_id, true_label, label AS pred FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, label
            ) AS rn FROM nsc
        ) WHERE rn = 1
    )
    SELECT true_label || ':' || pred AS k, CAST(count(*) AS DOUBLE) AS v
    FROM npred GROUP BY 1
)
UNION ALL
SELECT 'lm2', 'bucket_' || CAST(b AS VARCHAR), CAST(count(*) AS DOUBLE) FROM (
    -- bigram stupid-backoff replay: models over the EVEN-id half,
    -- scored over everything; backoff = ln(0.4) + unigram (floor for
    -- unseen words)
    WITH bw AS (
        SELECT doc_id,
               list_transform({_DUCK_WORDS}, x -> lower(x)) AS ws
        FROM documents
    ),
    bp AS (
        SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        FROM (
            SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
            FROM bw WHERE len(ws) >= 2
        )
    ),
    btr AS (SELECT w1, w2 FROM bp WHERE doc_id % 2 = 0),
    b12 AS (SELECT w1, w2, count(*) AS n12 FROM btr GROUP BY 1, 2),
    b1 AS (SELECT w1, count(*) AS n1 FROM btr GROUP BY 1),
    bm AS (
        SELECT b12.w1, b12.w2, ln(n12 / b1.n1) AS lpb
        FROM b12 JOIN b1 USING (w1)
    ),
    buw AS (
        SELECT lower(unnest({_DUCK_WORDS})) AS w
        FROM documents WHERE doc_id % 2 = 0
    ),
    buc AS (SELECT w, count(*) AS n FROM buw GROUP BY w),
    but AS (SELECT sum(n) AS total FROM buc),
    bsc AS (
        SELECT p.doc_id,
               coalesce(m.lpb,
                        ln(0.4) + coalesce(ln(u.n / but.total),
                                           ln(1.0 / but.total))) AS lp
        FROM bp p
        LEFT JOIN bm m ON m.w1 = p.w1 AND m.w2 = p.w2
        LEFT JOIN buc u ON u.w = p.w2
        CROSS JOIN but
    ),
    bmd AS (SELECT doc_id, round(avg(lp), 6) AS mlp FROM bsc GROUP BY 1)
    SELECT CAST(floor(mlp * 10) AS BIGINT) AS b FROM bmd
) GROUP BY b
UNION ALL
SELECT 'kn', 'bucket_' || CAST(b AS VARCHAR), CAST(count(*) AS DOUBLE) FROM (
    -- interpolated Kneser-Ney replay: even-half model, whole-corpus
    -- scoring; max(c-D,0)/c1 + lam*pcont, continuation over bigram
    -- types, 1e-10 OOV floor — exact-count divisions, 6dp mean
    WITH kw AS (
        SELECT doc_id,
               list_transform({_DUCK_WORDS}, x -> lower(x)) AS ws
        FROM documents
    ),
    kp AS (
        SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        FROM (
            SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
            FROM kw WHERE len(ws) >= 2
        )
    ),
    ktr AS (SELECT w1, w2 FROM kp WHERE doc_id % 2 = 0),
    k12 AS (SELECT w1, w2, count(*) AS n12 FROM ktr GROUP BY 1, 2),
    kctx AS (
        SELECT w1, sum(n12) AS n1,
               0.75 * count(*) / sum(n12) AS lam
        FROM k12 GROUP BY 1
    ),
    ktyp AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM k12),
    kcont AS (
        SELECT w2, count(*) / (SELECT t FROM ktyp) AS pcont
        FROM k12 GROUP BY 1
    ),
    ksc AS (
        SELECT p.doc_id,
               ln(CASE WHEN c.n1 IS NOT NULL
                       THEN greatest(coalesce(b.n12, 0) - 0.75, 0.0) / c.n1
                            + c.lam * coalesce(q.pcont, 1e-10)
                       ELSE coalesce(q.pcont, 1e-10) END) AS lp
        FROM kp p
        LEFT JOIN k12 b ON b.w1 = p.w1 AND b.w2 = p.w2
        LEFT JOIN kctx c ON c.w1 = p.w1
        LEFT JOIN kcont q ON q.w2 = p.w2
    ),
    kmd AS (SELECT doc_id, round(avg(lp), 6) AS mlp FROM ksc GROUP BY 1)
    SELECT CAST(floor(mlp * 10) AS BIGINT) AS b FROM kmd
) GROUP BY b
UNION ALL
SELECT 'dsir', k, v FROM (
    -- DSIR replay: target LM over the English slice, raw LM over the
    -- full corpus, per-doc sum of log-ratios rounded 4dp (unseen-in-
    -- target words at the ln(1/total) floor; every word is in the raw
    -- LM by construction), then integer-floor buckets + exact top-10
    WITH dwc AS (
        SELECT doc_id, lower(unnest({_DUCK_WORDS})) AS w FROM documents
    ),
    dtc AS (
        SELECT w, count(*) AS n FROM (
            SELECT lower(unnest({_DUCK_WORDS})) AS w
            FROM documents WHERE lang = 'en'
        ) GROUP BY w
    ),
    dtt AS (SELECT sum(n) AS total FROM dtc),
    drc AS (SELECT w, count(*) AS n FROM dwc GROUP BY w),
    drt AS (SELECT sum(n) AS total FROM drc),
    dwgt AS (
        SELECT d.doc_id,
               round(sum(coalesce(ln(t.n / dtt.total), ln(1.0 / dtt.total))
                         - ln(r.n / drt.total)), 4) AS lw
        FROM dwc d
        LEFT JOIN dtc t USING (w) CROSS JOIN dtt
        JOIN drc r USING (w) CROSS JOIN drt
        GROUP BY d.doc_id
    )
    SELECT 'bucket_' || CAST(CAST(floor(lw) AS BIGINT) AS VARCHAR) AS k,
           CAST(count(*) AS DOUBLE) AS v
    FROM dwgt GROUP BY 1
    UNION ALL
    SELECT 'top_' || lpad(CAST(rn AS VARCHAR), 2, '0'),
           CAST(doc_id AS DOUBLE)
    FROM (
        SELECT doc_id, row_number() OVER (ORDER BY lw DESC, doc_id) AS rn
        FROM dwgt
    ) WHERE rn <= 10
)
UNION ALL
SELECT 'bleu', k, v FROM (
    -- BLEU replay (Papineni et al. 2002, unsmoothed): candidate =
    -- lowercased punctuation-stripped doc vs reference = original;
    -- clipped modified precisions over chr(31)-joined 1..4-grams,
    -- brevity penalty, geometric mean summed ln(p_n)/4 in n order
    -- (matching the Spark expression term for term), 6dp
    WITH blp AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')),
                   '\\s+'), x -> x <> '') AS cw,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS rw
        FROM documents WHERE doc_id % 5 = 0
    ),
    blg AS (
        SELECT doc_id, n, gram, sum(c) AS c, sum(r) AS r FROM (
            SELECT doc_id, ns.n,
                   unnest(CASE WHEN len(cw) >= ns.n THEN
                       list_transform(range(1, len(cw) - ns.n + 2),
                           i -> array_to_string(
                               list_slice(cw, i, i + ns.n - 1), chr(31)))
                       ELSE [] END) AS gram,
                   1 AS c, 0 AS r
            FROM blp CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS n) ns
            UNION ALL
            SELECT doc_id, ns.n,
                   unnest(CASE WHEN len(rw) >= ns.n THEN
                       list_transform(range(1, len(rw) - ns.n + 2),
                           i -> array_to_string(
                               list_slice(rw, i, i + ns.n - 1), chr(31)))
                       ELSE [] END),
                   0, 1
            FROM blp CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS n) ns
        ) GROUP BY 1, 2, 3
    ),
    bls AS (
        SELECT doc_id,
               sum(CASE WHEN n = 1 THEN least(c, r) ELSE 0 END) AS clipped_1,
               sum(CASE WHEN n = 2 THEN least(c, r) ELSE 0 END) AS clipped_2,
               sum(CASE WHEN n = 3 THEN least(c, r) ELSE 0 END) AS clipped_3,
               sum(CASE WHEN n = 4 THEN least(c, r) ELSE 0 END) AS clipped_4,
               sum(CASE WHEN n = 1 THEN c ELSE 0 END) AS total_1,
               sum(CASE WHEN n = 2 THEN c ELSE 0 END) AS total_2,
               sum(CASE WHEN n = 3 THEN c ELSE 0 END) AS total_3,
               sum(CASE WHEN n = 4 THEN c ELSE 0 END) AS total_4
        FROM blg GROUP BY 1
    ),
    blx AS (
        SELECT l.doc_id, len(l.cw) AS cand_len, len(l.rw) AS ref_len,
               coalesce(s.clipped_1, 0) AS clipped_1,
               coalesce(s.clipped_2, 0) AS clipped_2,
               coalesce(s.clipped_3, 0) AS clipped_3,
               coalesce(s.clipped_4, 0) AS clipped_4,
               coalesce(s.total_1, 0) AS total_1,
               coalesce(s.total_2, 0) AS total_2,
               coalesce(s.total_3, 0) AS total_3,
               coalesce(s.total_4, 0) AS total_4
        FROM blp l LEFT JOIN bls s USING (doc_id)
    ),
    blb AS (
        SELECT doc_id,
               CASE WHEN clipped_1 > 0 AND total_1 > 0
                     AND clipped_2 > 0 AND total_2 > 0
                     AND clipped_3 > 0 AND total_3 > 0
                     AND clipped_4 > 0 AND total_4 > 0
               THEN round(
                   (CASE WHEN cand_len <= 0 THEN 0.0
                         ELSE exp(least(0.0,
                             1.0 - CAST(ref_len AS DOUBLE) / cand_len)) END)
                   * exp(ln(CAST(clipped_1 AS DOUBLE) / total_1) / 4.0
                       + ln(CAST(clipped_2 AS DOUBLE) / total_2) / 4.0
                       + ln(CAST(clipped_3 AS DOUBLE) / total_3) / 4.0
                       + ln(CAST(clipped_4 AS DOUBLE) / total_4) / 4.0), 6)
               ELSE 0.0 END AS bleu
        FROM blx
    ),
    blc AS (
        SELECT sum(cand_len) AS cand_len, sum(ref_len) AS ref_len,
               sum(clipped_1) AS clipped_1, sum(clipped_2) AS clipped_2,
               sum(clipped_3) AS clipped_3, sum(clipped_4) AS clipped_4,
               sum(total_1) AS total_1, sum(total_2) AS total_2,
               sum(total_3) AS total_3, sum(total_4) AS total_4
        FROM blx
    ),
    blm AS (
        SELECT CASE WHEN cand_len <= 0 THEN 0.0
                    ELSE exp(least(0.0,
                        1.0 - CAST(ref_len AS DOUBLE) / cand_len)) END AS bp_raw,
               CAST(clipped_1 AS DOUBLE) / total_1 AS p1,
               CAST(clipped_2 AS DOUBLE) / total_2 AS p2,
               CAST(clipped_3 AS DOUBLE) / total_3 AS p3,
               CAST(clipped_4 AS DOUBLE) / total_4 AS p4,
               CASE WHEN clipped_1 > 0 AND clipped_2 > 0
                     AND clipped_3 > 0 AND clipped_4 > 0
               THEN 1 ELSE 0 END AS all_pos
        FROM blc
    )
    SELECT 'bucket_' || CAST(CAST(floor(bleu * 10) AS BIGINT) AS VARCHAR) AS k,
           CAST(count(*) AS DOUBLE) AS v
    FROM blb GROUP BY 1
    UNION ALL
    SELECT 'corpus_' || m, v FROM (
        SELECT unnest(ARRAY['bp', 'p1', 'p2', 'p3', 'p4', 'bleu']) AS m,
               unnest(ARRAY[
                   round(bp_raw, 6), round(p1, 6), round(p2, 6),
                   round(p3, 6), round(p4, 6),
                   CASE WHEN all_pos = 1 THEN round(bp_raw
                       * exp(ln(p1) / 4.0 + ln(p2) / 4.0
                           + ln(p3) / 4.0 + ln(p4) / 4.0), 6)
                        ELSE 0.0 END]) AS v
        FROM blm
    )
)
UNION ALL
SELECT 'rouge', CAST(doc_id AS VARCHAR), v FROM (
    -- ROUGE-L on deletion-only plants: candidate = first-90-token ref
    -- with every 3rd token dropped, a SUBSEQUENCE, so the true LCS is
    -- the candidate length: p = kept/kept, r = kept/n, f = 2pr/(p+r)
    SELECT doc_id,
           CASE WHEN kept = 0 THEN 0.0
                ELSE round(2.0 * (CAST(kept AS DOUBLE) / kept)
                               * (CAST(kept AS DOUBLE) / n)
                           / ((CAST(kept AS DOUBLE) / kept)
                              + (CAST(kept AS DOUBLE) / n)), 6)
           END AS v
    FROM (
        SELECT doc_id, n, n - n // 3 AS kept FROM (
            SELECT doc_id, least(90, len({_DUCK_WORDS})) AS n
            FROM documents WHERE doc_id % 5 = 0
        )
    )
)
UNION ALL
SELECT 'rougen', k, v FROM (
    -- ROUGE-1/2 replay on the bleu pairs: clipped n-gram counts per
    -- (doc, n, gram) exactly like the bleu CTEs, F from unrounded
    -- p/r, space-joined grams (tokens are whitespace-free)
    WITH rnp AS (
        SELECT doc_id,
               list_filter(string_split_regex(
                   lower(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')),
                   '\\s+'), x -> x <> '') AS cw,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS rw
        FROM documents WHERE doc_id % 5 = 0
    ),
    rng AS (
        SELECT doc_id, n, gram, sum(c) AS c, sum(r) AS r FROM (
            SELECT doc_id, ns.n,
                   unnest(CASE WHEN len(cw) >= ns.n THEN
                       list_transform(range(1, len(cw) - ns.n + 2),
                           i -> array_to_string(
                               list_slice(cw, i, i + ns.n - 1), ' '))
                       ELSE [] END) AS gram,
                   1 AS c, 0 AS r
            FROM rnp CROSS JOIN (SELECT unnest([1, 2]) AS n) ns
            UNION ALL
            SELECT doc_id, ns.n,
                   unnest(CASE WHEN len(rw) >= ns.n THEN
                       list_transform(range(1, len(rw) - ns.n + 2),
                           i -> array_to_string(
                               list_slice(rw, i, i + ns.n - 1), ' '))
                       ELSE [] END),
                   0, 1
            FROM rnp CROSS JOIN (SELECT unnest([1, 2]) AS n) ns
        ) GROUP BY 1, 2, 3
    ),
    rns AS (
        SELECT doc_id, n, sum(least(c, r)) AS m,
               sum(c) AS cand_n, sum(r) AS ref_n
        FROM rng GROUP BY 1, 2
    )
    SELECT 'f' || CAST(ns.n AS VARCHAR) || '_'
               || CAST(p.doc_id AS VARCHAR) AS k,
           CASE WHEN coalesce(m, 0) = 0 THEN 0.0
                ELSE round(
                    2.0 * (CAST(m AS DOUBLE) / cand_n)
                        * (CAST(m AS DOUBLE) / ref_n)
                    / ((CAST(m AS DOUBLE) / cand_n)
                       + (CAST(m AS DOUBLE) / ref_n)), 6)
           END AS v
    FROM rnp p
    CROSS JOIN (SELECT unnest([1, 2]) AS n) ns
    LEFT JOIN rns s ON s.doc_id = p.doc_id AND s.n = ns.n
)
UNION ALL
SELECT 'chrf', CAST(doc_id AS VARCHAR), v FROM (
    -- chrF replay (round 12): character 1..6-gram clipped overlap on
    -- the bleu pairs with whitespace stripped; per-order P/R summed
    -- as ORDERED aggregates (sum ... ORDER BY n — the same
    -- deterministic fold order as Spark's array_sort + F.aggregate),
    -- effective-order average, F_beta with beta=2
    WITH cfp AS (
        SELECT doc_id,
               regexp_replace(lower(regexp_replace(
                   text, '[^A-Za-z0-9\\s]', '', 'g')), '\\s+', '', 'g') AS cs,
               regexp_replace(text, '\\s+', '', 'g') AS rs
        FROM documents WHERE doc_id % 5 = 0
    ),
    cfg AS (
        SELECT doc_id, n, g, sum(c) AS c, sum(r) AS r FROM (
            SELECT doc_id, ns.n,
                   unnest(CASE WHEN length(cs) >= ns.n THEN
                       list_transform(range(1, length(cs) - ns.n + 2),
                           i -> substring(cs, CAST(i AS INT), ns.n))
                       ELSE [] END) AS g,
                   1 AS c, 0 AS r
            FROM cfp CROSS JOIN (SELECT unnest(range(1, 7)) AS n) ns
            UNION ALL
            SELECT doc_id, ns.n,
                   unnest(CASE WHEN length(rs) >= ns.n THEN
                       list_transform(range(1, length(rs) - ns.n + 2),
                           i -> substring(rs, CAST(i AS INT), ns.n))
                       ELSE [] END),
                   0, 1
            FROM cfp CROSS JOIN (SELECT unnest(range(1, 7)) AS n) ns
        ) GROUP BY 1, 2, 3
    ),
    cfo AS (
        SELECT doc_id, n, sum(least(c, r)) AS m,
               sum(c) AS cn, sum(r) AS rn
        FROM cfg GROUP BY 1, 2
    ),
    cff AS (
        SELECT doc_id,
               sum(CASE WHEN cn + rn > 0 THEN 1 ELSE 0 END) AS eff,
               sum(CASE WHEN cn > 0 THEN CAST(m AS DOUBLE) / cn
                        ELSE 0.0 END ORDER BY n) AS sp,
               sum(CASE WHEN rn > 0 THEN CAST(m AS DOUBLE) / rn
                        ELSE 0.0 END ORDER BY n) AS sr
        FROM cfo GROUP BY 1
    )
    SELECT p.doc_id,
           CASE WHEN coalesce(f.eff, 0) = 0 THEN 0.0
                WHEN (f.sp / f.eff + f.sr / f.eff) = 0 THEN 0.0
                ELSE round(5.0 * (f.sp / f.eff) * (f.sr / f.eff)
                           / (4.0 * (f.sp / f.eff) + (f.sr / f.eff)), 6)
           END AS v
    FROM cfp p LEFT JOIN cff f USING (doc_id)
)
ORDER BY kind, k
"""


def q_sim_ann_topk_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four ANN top-k strategies — exact brute force, OR-amplified
    hyperplane LSH, IVF with the fixed coarse quantizer, PQ/ADC with
    the fixed codebook — in one tagged union (round-7 consolidation;
    every arm is the ORIGINAL plan via the original callable, identical
    output schemas). Freed two registry slots for ``text_line_dedup``
    and ``dedup_incremental``; the bench HEADLINES still time
    ``sim_topk_bruteforce`` and ``sim_lsh_topk`` individually under
    their original names."""
    pin_utc(spark)
    bf = q_sim_topk_bruteforce(spark, sf_dir).select(
        F.lit("bruteforce").alias("method"), "*"
    )
    lsh = q_sim_lsh_topk(spark, sf_dir).select(F.lit("lsh").alias("method"), "*")
    ivf = q_sim_ivf_topk(spark, sf_dir).select(F.lit("ivf").alias("method"), "*")
    pq = q_sim_pq_topk(spark, sf_dir).select(F.lit("pq").alias("method"), "*")
    return (
        bf.unionByName(lsh)
        .unionByName(ivf)
        .unionByName(pq)
        .orderBy("method", "query_id", "rank")
    )


def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level boilerplate removal
    (``operators/dedup.py::dedup_lines``). The fixture corpus is a flat
    word stream, so both engines first lay it out as 8-word lines with
    identical integer arithmetic (the operator itself is plain
    newline-based); a line appearing in >= 2 distinct docs is dropped
    and every doc is rebuilt from its surviving lines in order. The
    rebuilt text is verified via md5 — one wrong/misordered line in any
    doc breaks the hash."""
    pin_utc(spark)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    ws = tx.words(F.col("text"))
    fmt = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.when(
                F.size(ws) >= 1,
                F.transform(
                    F.sequence(
                        F.lit(0), F.floor((F.size(ws) - 1) / 8).cast("int")
                    ),
                    lambda i: F.concat_ws(" ", F.slice(ws, i * 8 + 1, 8)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        ).alias("text"),
    )
    return (
        dd.dedup_lines(fmt, min_docs=2)
        .select(
            "doc_id",
            F.md5("text_clean").alias("clean_md5"),
            "n_lines",
            "n_kept",
        )
        .orderBy("doc_id")
    )


_LINE_DEDUP_SQL = f"""
WITH w AS (
    SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents
),
li AS (
    SELECT doc_id, unnest(range(0, CAST(floor((len(ws) - 1) / 8) AS BIGINT) + 1)) AS pos, ws
    FROM w WHERE len(ws) >= 1
),
lines AS (
    SELECT doc_id, pos,
           array_to_string(ws[pos * 8 + 1:pos * 8 + 8], ' ') AS line
    FROM li
),
boiler AS (
    SELECT md5(trim(line)) AS lh FROM lines
    GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
kept AS (
    SELECT doc_id, pos, line FROM lines
    WHERE md5(trim(line)) NOT IN (SELECT lh FROM boiler)
),
rebuilt AS (
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY pos) AS text_clean,
           count(*) AS n_kept
    FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
SELECT t.doc_id, md5(coalesce(r.text_clean, '')) AS clean_md5,
       CAST(t.n_lines AS BIGINT) AS n_lines,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
ORDER BY t.doc_id
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact dedup against a persistent fingerprint store
    (``operators/dedup.py::incremental_exact_dedup``): the raw corpus
    plays the historical store, the augmented corpus plays the new
    batch — base docs and exact copies are dropped (fingerprint already
    stored), perturbed near-dups survive, and in-batch duplicate groups
    collapse to the min-id keeper. Every survivor's id AND fingerprint
    are hash-checked.

    Round 10 adds the ``store`` arm — incremental MinHash
    signature-store maintenance (``operators/dedup.py::
    update_minhash_store``, previously pytest-only): the raw corpus
    plays snapshot v1, a deterministic churned release plays v2
    (every 17th+5 doc removed, 17th+3 changed, 17th+1 re-added under
    a +5M id), the v1 signature store is updated through a
    ``dataset_diff`` of the two, and every updated-store row's full
    16-permutation signature is hash-checked against the oracle's
    from-scratch recompute over v2 — the operator's contract
    (updated store == full rebuild) verified end to end. Store-arm
    rows ride the same (doc_id, fingerprint) schema under a +10M id
    offset, with fingerprint = md5 of the comma-joined signature."""
    pin_utc(spark)
    docs = _docs(spark, sf_dir)
    store = docs.select(
        dd.normalized_fingerprint(F.col("text")).alias("fingerprint")
    ).distinct()
    batch = _augmented(docs)
    exact = dd.incremental_exact_dedup(batch, store).orderBy("doc_id")

    old = docs.select("doc_id", "text")
    new = (
        old.filter(F.col("doc_id") % 17 != 5)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 17 == 3, F.concat(F.col("text"), F.lit(" rev2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            old.filter(F.col("doc_id") % 17 == 1).select(
                (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
            )
        )
    )
    sig_store = dd.minhash_signatures(old, num_perm=NUM_PERM)
    diff = cur.dataset_diff(old, new)
    updated = dd.update_minhash_store(
        sig_store, diff, new, num_perm=NUM_PERM
    )
    store_rows = updated.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.md5(
            F.array_join(
                F.transform("signature", lambda x: x.cast("string")), ","
            )
        ).alias("fingerprint"),
    )
    return exact.unionByName(store_rows).orderBy("doc_id")


_DEDUP_INCREMENTAL_SQL = f"""
WITH {_AUG_CTE},
store AS (
    SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
),
fp AS (
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM aug
),
fresh AS (
    SELECT * FROM fp
    WHERE fingerprint NOT IN (SELECT fingerprint FROM store)
),
-- store arm: the churned v2 release; the oracle recomputes every v2
-- signature from scratch — update_minhash_store's contract is that
-- the incrementally-maintained store equals exactly this rebuild
newc AS (
    SELECT doc_id,
           CASE WHEN doc_id % 17 = 3 THEN text || ' rev2' ELSE text END AS text
    FROM documents WHERE doc_id % 17 <> 5
    UNION ALL
    SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 17 = 1
),
nw AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM newc),
nsh AS (SELECT doc_id, {_DUCK_SHINGLES} AS shs FROM nw),
nex AS (SELECT doc_id, unnest(shs) AS s FROM nsh),
nhx AS (SELECT doc_id, md5(s) AS h FROM nex),
nhp AS (
    SELECT doc_id,
           CAST({_duck_hex7(1)} AS BIGINT) AS h1,
           CAST({_duck_hex7(9)} AS BIGINT) AS h2
    FROM nhx
),
nmh AS (
    SELECT doc_id,
           {{_MINHASH_COLS}}
    FROM nhp GROUP BY doc_id
)
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, fingerprint
FROM fresh GROUP BY fingerprint
UNION ALL
SELECT CAST(doc_id + 10000000 AS BIGINT) AS doc_id,
       md5({{_SIG_JOIN}}) AS fingerprint
FROM nmh
ORDER BY doc_id
"""
_DEDUP_INCREMENTAL_SQL = _DEDUP_INCREMENTAL_SQL.replace(
    "{_MINHASH_COLS}", _duck_minhash_cols()
).replace(
    "{_SIG_JOIN}",
    " || ',' || ".join(f"CAST(mh_{s} AS VARCHAR)" for s in range(NUM_PERM)),
)


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile / dataset card (``operators/curation.py::
    dataset_report``) + top-20 PMI bigram collocations
    (``operators/text.py::collocations``) in one tagged long-format
    union — the round-7 driver rows for the last two operators that
    were pytest-only — plus (round-7 cont.) a ``dataset_diff`` arm
    over a deterministic synthetic release (every 13th+5 doc removed,
    13th+3 changed, 13th+1 re-added under a shifted id; per-doc
    status + token delta AND the per-class summary hash-checked) and a
    ``stratified_sample`` arm (exact 10-per-lang deterministic sample;
    the operator runs its two-phase top-n scale path, the oracle is
    the naive global window — identical selection by construction,
    every (stratum, doc, rank) hash-checked). The
    report runs over a lang-preserving augmented corpus (exact copies
    of every 10th doc) so the dup arm has real duplicate groups to
    count; collocations run over the raw corpus. Every metric is
    hash-checked: counts are exact doubles, PMI is 6dp-rounded on both
    sides (same trick as TF-IDF), and the rank is computed over the
    ROUNDED score so ordering is engine-independent.
    """
    pin_utc(spark)
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    aug = docs.unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang"
        )
    )
    rep = cur.dataset_report(aug)
    col_long = (
        tx.collocations(docs, k=20, min_count=5)
        .selectExpr(
            "concat(w1, ' ', w2) AS k",
            "stack(3, "
            "'colloc_pmi', pmi6, "
            "'colloc_n', CAST(n_ab AS DOUBLE), "
            "'colloc_rank', CAST(rank AS DOUBLE)) AS (kind, v)",
        )
        .select("kind", "k", "v")
    )
    # diff arm (round-7 cont.): dataset_diff against a deterministic
    # synthetic release — every 13th+5 doc removed, 13th+3 changed,
    # 13th+1 re-added under a shifted id. Per-doc status+token-delta
    # rows AND the summary are hash-checked.
    old = docs.select("doc_id", "text")
    new = old.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 3,
            F.concat(F.col("text"), F.lit(" changed")),
        ).otherwise(F.col("text")),
    ).unionByName(
        old.filter(F.col("doc_id") % 13 == 1).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
    )
    dif = cur.dataset_diff(old, new)
    dif_long = dif.select(
        F.lit("diff").alias("kind"),
        F.concat_ws(
            ":", F.col("status"), F.col("doc_id").cast("string")
        ).alias("k"),
        (
            F.coalesce(F.col("tokens_new"), F.lit(0))
            - F.coalesce(F.col("tokens_old"), F.lit(0))
        ).cast("double").alias("v"),
    )
    dif_sum = cur.dataset_diff_summary(dif).selectExpr(
        "stack(2, "
        "'diff_docs', status, CAST(n_docs AS DOUBLE), "
        "'diff_tokens', status, CAST(token_delta AS DOUBLE)"
        ") AS (kind, k, v)"
    )
    # sample arm: exact-count deterministic stratified sample (10 per
    # lang) — every selected (stratum, doc, rank) hash-checked. The
    # operator runs its two-phase top-n scale path; the oracle is the
    # naive global window — same selection by construction.
    samp_long = cur.stratified_sample(
        _docs(spark, sf_dir), 10, strata_col="lang"
    ).select(
        F.lit("sample").alias("kind"),
        F.concat_ws(":", "lang", F.col("doc_id").cast("string")).alias("k"),
        F.col("sample_rank").cast("double").alias("v"),
    )
    # round 10 (cont.): count-min sketch arm (operators/sketch.py) —
    # the 4×256 sketch over ALL corpus tokens (real collisions at this
    # vocabulary, so estimates genuinely overcount) probed for a fixed
    # multilingual stopword set, with exact counts alongside: the
    # never-undercount property is itself hash-checked data. Merge
    # associativity and the overcount bound are pytest-pinned.
    from privacy_cdc_lakehouse_spark.operators import sketch as sk

    toks = docs.select(
        F.explode(tx.words(F.lower(F.col("text")))).alias("tok")
    )
    probes = spark.createDataFrame(
        [(t,) for t in _CMS_PROBES], "tok string"
    )
    cms_est = sk.cms_lookup(
        sk.cms_build(toks, "tok", depth=4, width=256),
        probes,
        "tok",
        depth=4,
        width=256,
    ).select(
        F.lit("cms").alias("kind"),
        F.concat(F.lit("est:"), F.col("tok")).alias("k"),
        F.col("estimate").cast("double").alias("v"),
    )
    cms_exact = (
        toks.join(probes, "tok")
        .groupBy("tok")
        .count()
        .select(
            F.lit("cms").alias("kind"),
            F.concat(F.lit("exact:"), F.col("tok")).alias("k"),
            F.col("count").cast("double").alias("v"),
        )
    )
    # round 12: mergeable histogram-quantile sketch arm
    # (operators/sketch.py::hist_sketch_*) — the quantile companion of
    # the cms/hll sketches: two half-corpus sketches over doc length
    # on a FIXED [0, 2048)x256 grid (fixed grid = mergeable by counter
    # addition, the PSI discipline; t-digest centroids would be
    # float-order dependent), merged, then p50/p90/p99 answered from
    # the <=258-row sketch — each bin-quantized quantile hash-checked.
    # merge == single-build is an exact integer-counter identity
    # (pytest-pinned), so the oracle replays the single-pass build.
    halves = docs.select(F.length("text").alias("nc"), "doc_id")
    qsk_sketch = sk.hist_sketch_merge(
        sk.hist_sketch_build(
            halves.filter(F.col("doc_id") % 2 == 0), "nc", 0.0, 2048.0, 256
        ),
        sk.hist_sketch_build(
            halves.filter(F.col("doc_id") % 2 == 1), "nc", 0.0, 2048.0, 256
        ),
    )
    qsk = sk.hist_sketch_quantile(
        qsk_sketch, [0.5, 0.9, 0.99], 0.0, 2048.0, 256
    ).select(
        F.lit("qsk").alias("kind"),
        F.concat(
            F.lit("p"),
            F.round(F.col("q") * 100).cast("int").cast("string"),
        ).alias("k"),
        F.col("value").alias("v"),
    )
    return (
        rep.unionByName(col_long)
        .unionByName(dif_long)
        .unionByName(dif_sum)
        .unionByName(samp_long)
        .unionByName(cms_est)
        .unionByName(cms_exact)
        .unionByName(qsk)
        .orderBy("kind", "k")
    )


# probes mix genuinely frequent corpus tokens with absent ones so the
# arm checks real counts AND the absent-item zero/collision path
_CMS_PROBES = ["join", "hash", "row", "batch", "scan", "customer",
               "filter", "merge", "zzz_absent", "the"]


_WORD_RE_SQL = "[a-z]{2,}"  # tx._WORD_RE, brace-free for the f-string

_CORPUS_PROFILE_SQL = f"""
WITH aug AS (
    SELECT doc_id, text, lang FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text, lang FROM documents WHERE doc_id % 10 = 0
),
base AS (
    SELECT lang AS s,
           len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS toks,
           length(text) AS chars
    FROM aug
),
ps AS (
    SELECT s, count(*) AS n_docs, sum(toks) AS n_tokens,
           sum(chars) AS n_chars
    FROM base GROUP BY s
),
w AS (SELECT text, {_DUCK_WORDS} AS ws FROM aug),
feat AS (
    SELECT len(ws) AS n_words,
           len(list_filter(ws, x -> lower(x) IN ({_STOP_LIST}))) /
             greatest(len(ws), 1) AS stopword_ratio,
           length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) /
             greatest(length(text), 1) AS punct_ratio,
           length(regexp_replace(text, '[^0-9]', '', 'g')) /
             greatest(length(text), 1) AS digit_ratio
    FROM w
),
qd AS (
    SELECT least(CAST(floor((
             CASE WHEN n_words BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END
           + CASE WHEN stopword_ratio > 0.05 THEN 0.3 ELSE 0.0 END
           + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END
           + CASE WHEN digit_ratio < 0.3 THEN 0.1 ELSE 0.0 END
           ) * 10) AS BIGINT), 9) AS dec
    FROM feat
),
dup AS (
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h,
           count(*) AS sz
    FROM aug GROUP BY 1 HAVING count(*) > 1
),
toks AS (
    SELECT regexp_extract_all(lower(text), '{_WORD_RE_SQL}') AS a
    FROM documents
),
bg AS (
    SELECT a[i] AS w1, a[i + 1] AS w2
    FROM (SELECT a, unnest(range(1, len(a))) AS i FROM toks WHERE len(a) >= 2)
),
ug AS (SELECT unnest(a) AS w FROM toks),
bgc AS (SELECT w1, w2, count(*) AS n_ab FROM bg GROUP BY w1, w2),
ugc AS (SELECT w, count(*) AS n_w FROM ug GROUP BY w),
tot AS (
    SELECT (SELECT sum(n_ab) FROM bgc) AS n_bg,
           (SELECT count(*) FROM ug) AS n_tok
),
sc AS (
    SELECT bgc.w1, bgc.w2, bgc.n_ab,
           round(ln((bgc.n_ab / tot.n_bg) /
                    ((u1.n_w / tot.n_tok) * (u2.n_w / tot.n_tok))), 6) AS pmi6
    FROM bgc
    JOIN ugc u1 ON u1.w = bgc.w1
    JOIN ugc u2 ON u2.w = bgc.w2
    CROSS JOIN tot
    WHERE bgc.n_ab >= 5
),
topk AS (
    SELECT w1, w2, n_ab, pmi6,
           row_number() OVER (ORDER BY pmi6 DESC, w1 ASC, w2 ASC) AS rank
    FROM sc
    QUALIFY rank <= 20
),
dnew AS (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 3 THEN text || ' changed' ELSE text END AS text
    FROM documents WHERE doc_id % 13 <> 5
    UNION ALL
    SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 13 = 1
),
dold2 AS (
    SELECT doc_id, md5(text) AS fp,
           len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS toks
    FROM documents
),
dnew2 AS (
    SELECT doc_id, md5(text) AS fp,
           len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS toks
    FROM dnew
),
ddiff AS (
    SELECT doc_id, status, delta FROM (
        SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
               CASE WHEN a.fp IS NULL THEN 'added'
                    WHEN b.fp IS NULL THEN 'removed'
                    WHEN a.fp <> b.fp THEN 'changed' END AS status,
               coalesce(b.toks, 0) - coalesce(a.toks, 0) AS delta
        FROM dold2 a FULL OUTER JOIN dnew2 b ON a.doc_id = b.doc_id
    ) WHERE status IS NOT NULL
),
samp AS (
    SELECT lang, doc_id, r FROM (
        SELECT lang, doc_id, row_number() OVER (
            PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
        FROM documents
    ) WHERE r <= 10
),
-- count-min replay: 4x256 sketch over all lowercased tokens, bucket =
-- 13-nibble md5(row|token) int mod 256; estimate = min over rows of
-- the bucket counter (0 when absent)
cms_tok AS (
    SELECT lower(unnest({_DUCK_WORDS})) AS tok FROM documents
),
cms_probe AS (
    SELECT unnest(['join', 'hash', 'row', 'batch', 'scan', 'customer',
                   'filter', 'merge', 'zzz_absent', 'the']) AS tok
),
cms_cells AS (
    SELECT r AS row_i, ({_duck_hexn(1, 13)}) % 256 AS bucket,
           CAST(count(*) AS BIGINT) AS c
    FROM (
        SELECT r, md5(CAST(r AS VARCHAR) || '|' || tok) AS h
        FROM cms_tok CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r)
    ) GROUP BY 1, 2
),
cms_est AS (
    SELECT tok, min(coalesce(c, 0)) AS est
    FROM (
        SELECT tok, r, ({_duck_hexn(1, 13)}) % 256 AS bucket
        FROM (
            SELECT tok, r, md5(CAST(r AS VARCHAR) || '|' || tok) AS h
            FROM cms_probe CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r)
        )
    ) p
    LEFT JOIN cms_cells s ON s.row_i = p.r AND s.bucket = p.bucket
    GROUP BY tok
),
cms_exact AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS n
    FROM cms_tok JOIN cms_probe USING (tok) GROUP BY tok
)
SELECT kind, k, v FROM (
    SELECT 'docs' AS kind, s AS k, CAST(n_docs AS DOUBLE) AS v FROM ps
    UNION ALL SELECT 'tokens', s, CAST(n_tokens AS DOUBLE) FROM ps
    UNION ALL SELECT 'chars', s, CAST(n_chars AS DOUBLE) FROM ps
    UNION ALL SELECT 'quality', 'decile_' || CAST(dec AS VARCHAR),
                     CAST(count(*) AS DOUBLE) FROM qd GROUP BY dec
    UNION ALL SELECT 'dup', 'exact_groups', CAST(count(*) AS DOUBLE) FROM dup
    UNION ALL SELECT 'dup', 'redundant_docs',
                     CAST(coalesce(sum(sz - 1), 0) AS DOUBLE) FROM dup
    UNION ALL SELECT 'colloc_pmi', w1 || ' ' || w2, pmi6 FROM topk
    UNION ALL SELECT 'colloc_n', w1 || ' ' || w2, CAST(n_ab AS DOUBLE) FROM topk
    UNION ALL SELECT 'colloc_rank', w1 || ' ' || w2, CAST(rank AS DOUBLE)
              FROM topk
    UNION ALL SELECT 'diff', status || ':' || CAST(doc_id AS VARCHAR),
                     CAST(delta AS DOUBLE) FROM ddiff
    UNION ALL SELECT 'diff_docs', status, CAST(count(*) AS DOUBLE)
              FROM ddiff GROUP BY status
    UNION ALL SELECT 'diff_tokens', status, CAST(sum(delta) AS DOUBLE)
              FROM ddiff GROUP BY status
    UNION ALL SELECT 'sample', lang || ':' || CAST(doc_id AS VARCHAR),
                     CAST(r AS DOUBLE) FROM samp
    UNION ALL SELECT 'cms', 'est:' || tok, CAST(est AS DOUBLE) FROM cms_est
    UNION ALL SELECT 'cms', 'exact:' || tok, CAST(n AS DOUBLE) FROM cms_exact
    -- histogram-quantile sketch replay (round 12): fixed [0,2048)x256
    -- grid over doc length; merge == single build is an exact integer
    -- identity, so ONE whole-corpus build replays the merged halves;
    -- quantile = upper edge of the first bin at cumulative >= q
    UNION ALL SELECT 'qsk', k, v FROM (
        WITH qsb AS (
            SELECT CAST(CASE WHEN length(text) >= 2048 THEN 256
                             ELSE least(255, floor((length(text) - 0.0)
                                                   / 8.0)) END AS INT)
                     AS bin,
                   count(*) AS n
            FROM documents GROUP BY 1
        ),
        qsc AS (
            SELECT bin, sum(n) OVER (ORDER BY bin) / sum(n) OVER () AS cum
            FROM qsb
        )
        SELECT 'p' || CAST(CAST(qq * 100 AS INT) AS VARCHAR) AS k,
               (SELECT round(CASE WHEN b < 0 THEN 0.0
                                  WHEN b >= 256 THEN 2048.0
                                  ELSE 0.0 + (b + 1) * 8.0 END, 6)
                FROM (SELECT min(CASE WHEN cum >= qq THEN bin END) AS b
                      FROM qsc)) AS v
        FROM (SELECT unnest([0.5, 0.9, 0.99]) AS qq)
    )
)
ORDER BY kind, k
"""


CURATION_BENCH_MOD = 97


def q_curation_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, exact AND fuzzy: every 97th RAW
    document plays the held-out benchmark (a slice of the corpus
    itself — the worst-case leak shape) and the AUGMENTED corpus is
    screened (round 9 — its exact +1M copies and tail-perturbed +2M
    near-copies of benchmark docs are precisely what the two screens
    must separate: the exact n-gram arm counts shared grams; the
    MinHash-LSH fuzzy arm, ``fuzzy_contamination``, catches the
    near-verbatim copy as a whole-doc Jaccard≥0.5 hit the fingerprint
    dedup would miss). The exact arm runs through the pre-exploded
    ``corpus_ngrams`` reuse hook; the fuzzy arm broadcasts the
    benchmark's banded buckets so screening adds zero corpus shuffles.
    Per-doc gram counts, fuzzy-hit counts and max Jaccard
    (integer-ratio double, engine-exact) are all hash-checked."""
    pin_utc(spark)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = _augmented(docs)
    grams = cur.corpus_ngrams(corpus, n=3)
    bench = docs.filter(F.col("doc_id") % CURATION_BENCH_MOD == 0)
    exact = cur.ngram_contamination(corpus, bench, n=3, corpus_grams=grams)
    fuzzy = cur.fuzzy_contamination(
        corpus, bench, num_perm=NUM_PERM, bands=BANDS, threshold=0.5
    )
    return exact.join(fuzzy, "doc_id").orderBy("doc_id")


# The fuzzy arm reuses _MINHASH_CTE's signature/banding CTEs over the
# augmented corpus (its corpus-pair `cand` CTE goes unreferenced —
# DuckDB prunes unused CTEs); the benchmark side needs no separate
# CTE chain because benchmark docs ARE augmented-corpus rows
# (raw ids % 97, id < 1e6), so its banded buckets are a filter of
# `bands` and its shingle sets a filter of `sh`.
_DECONTAM_SQL = _MINHASH_CTE + f"""
, bg AS (
    SELECT DISTINCT unnest(shs) AS g FROM sh
    WHERE doc_id % {CURATION_BENCH_MOD} = 0 AND doc_id < 1000000
),
cg AS (SELECT doc_id, unnest(shs) AS g FROM sh),
hits AS (
    SELECT cg.doc_id, count(DISTINCT cg.g) AS n
    FROM cg JOIN bg ON cg.g = bg.g GROUP BY cg.doc_id
),
fcand AS (
    SELECT DISTINCT l.doc_id, r.doc_id AS bench_id
    FROM bands l JOIN bands r
      ON l.band = r.band AND l.bucket = r.bucket
   WHERE r.doc_id % {CURATION_BENCH_MOD} = 0 AND r.doc_id < 1000000
),
fj AS (
    SELECT c.doc_id, c.bench_id,
           len(list_intersect(a.shs, b.shs)) AS inter,
           len(list_distinct(list_concat(a.shs, b.shs))) AS uni
    FROM fcand c
    JOIN sh a ON a.doc_id = c.doc_id
    JOIN sh b ON b.doc_id = c.bench_id
),
fhits AS (
    SELECT doc_id, count(DISTINCT bench_id) AS nf,
           max(CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni
               ELSE 0.0 END) AS mj
    FROM fj
    WHERE CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni
          ELSE 0.0 END >= 0.5
    GROUP BY doc_id
)
SELECT a.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_contam_grams,
       CAST(coalesce(f.nf, 0) AS BIGINT) AS n_fuzzy_docs,
       coalesce(f.mj, 0.0) AS max_jaccard
FROM aug a
LEFT JOIN hits h ON h.doc_id = a.doc_id
LEFT JOIN fhits f ON f.doc_id = a.doc_id
ORDER BY a.doc_id
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation over the AUGMENTED corpus (so the
    dedup stage has real duplicates to drop): quality filter →
    exact-dedup keeper election → benchmark decontamination (every 97th
    RAW doc plays the held-out benchmark) → deterministic split. The
    final training-set manifest — (doc_id, quality_score, split) for
    every survivor — is hash-checked against a DuckDB replay of the
    identical four stages, verifying the COMPOSITION of the already
    individually-verified operators."""
    pin_utc(spark)
    docs = _docs(spark, sf_dir)
    corpus = _augmented(docs)
    bench = docs.filter(F.col("doc_id") % CURATION_BENCH_MOD == 0).select(
        "doc_id", "text"
    )
    return cur.curate_corpus(
        corpus, bench, n=3, persist_intermediate=True
    ).orderBy("doc_id")


def q_curation_pipeline_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline at gate sizing with SELECTIVE
    decontamination (round-12 finding, caught by the new gate
    rows-out assertion): the scaled fixture's ~31-word vocabulary
    saturates the word-3-gram space — the ~500-doc benchmark covers
    nearly every possible 3-gram, so the registry row's n=3 pipeline
    CORRECTLY decontaminates 100% of the sf1 corpus and the r10/r11
    gate rows silently priced the split stage on zero rows. This twin
    runs n=8 (31^8 gram space — the benchmark covers a negligible
    fraction), so every stage moves real data at sf1: quality filter
    -> exact-dedup keepers -> selective decontam (~19% drop) ->
    split. The registry row (hash-checked at sf0.01, where n=3 IS
    selective) is unchanged; the gate value-asserts survivors > 0."""
    pin_utc(spark)
    docs = _docs(spark, sf_dir)
    corpus = _augmented(docs)
    bench = docs.filter(F.col("doc_id") % CURATION_BENCH_MOD == 0).select(
        "doc_id", "text"
    )
    return cur.curate_corpus(
        corpus, bench, n=8, persist_intermediate=True
    ).orderBy("doc_id")


_CURATION_PIPELINE_SQL = f"""
WITH {_AUG_CTE},
w AS (SELECT doc_id, text, {_DUCK_WORDS} AS ws FROM aug),
feat AS (
    SELECT doc_id, text,
           len(ws) AS n_words,
           len(list_filter(ws, x -> lower(x) IN ({_STOP_LIST}))) /
             greatest(len(ws), 1) AS stopword_ratio,
           length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) /
             greatest(length(text), 1) AS punct_ratio,
           length(regexp_replace(text, '[^0-9]', '', 'g')) /
             greatest(length(text), 1) AS digit_ratio
    FROM w
),
scored AS (
    SELECT doc_id, text,
           CAST(CASE WHEN n_words BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END
           + CASE WHEN stopword_ratio > 0.05 THEN 0.3 ELSE 0.0 END
           + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END
           + CASE WHEN digit_ratio < 0.3 THEN 0.1 ELSE 0.0 END AS DOUBLE)
             AS quality_score
    FROM feat
),
q AS (SELECT * FROM scored WHERE quality_score >= {cur.QUALITY_FLOOR}),
fp AS (
    SELECT doc_id, text, quality_score,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
    FROM q
),
kept AS (
    SELECT doc_id, text, quality_score FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY f) AS kmin FROM fp
    ) WHERE doc_id = kmin
),
kw AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM kept),
ksh AS (SELECT doc_id, {_DUCK_SHINGLES} AS shs FROM kw),
bw AS (SELECT {_DUCK_WORDS} AS ws FROM documents WHERE doc_id % {CURATION_BENCH_MOD} = 0),
bsh AS (SELECT {_DUCK_SHINGLES} AS shs FROM bw),
bg AS (SELECT DISTINCT unnest(shs) AS g FROM bsh),
cg AS (SELECT doc_id, unnest(shs) AS g FROM ksh),
contam AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg ON cg.g = bg.g),
clean AS (
    SELECT k.doc_id, k.quality_score FROM kept k
    LEFT JOIN contam c ON c.doc_id = k.doc_id WHERE c.doc_id IS NULL
),
h AS (
    SELECT doc_id, quality_score,
           md5('split' || '|' || CAST(doc_id AS VARCHAR)) AS h
    FROM clean
),
b AS (
    SELECT doc_id, quality_score,
           CAST({_duck_hex7(1)} AS BIGINT) % {cur.SPLIT_BUCKETS} AS bucket
    FROM h
)
SELECT doc_id, round(quality_score, 2) AS quality_score,
       CASE WHEN bucket < 900 THEN 'train'
            WHEN bucket < 950 THEN 'val'
            ELSE 'test' END AS split
FROM b ORDER BY doc_id
"""


# ----------------------------- multimodal -----------------------------------


NEAR_DUP_TABLES = 12
NEAR_DUP_PLANES = 12


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.99) over an
    augmented corpus (vec_id%10==0 duplicated with one dimension
    perturbed 5%, id+100000 — scale-invariant copies would be trivial).

    Candidates from OR-amplified hyperplane LSH (12 tables × 12 sign
    bits), exact cosine verify on candidates only — no all-pairs join
    anywhere in the plan. The oracle replicates the banding bit-for-bit
    (identical ±1 plane literals, identical fold order), so the result
    hash-matches by construction even where LSH recall < 1 (measured
    ≈ 3e-5 miss probability per true pair at this threshold).
    """
    pin_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
    perturbed = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform(
            "v", lambda x, i: F.when(i == 0, x * 1.05).otherwise(x)
        ).alias("v"),
    )
    corpus = base.unionByName(perturbed)
    pairs = sim.lsh_near_dup_pairs(
        corpus,
        threshold=0.99,
        tables=NEAR_DUP_TABLES,
        band_planes=NEAR_DUP_PLANES,
        dim=64,
    )
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim_r")
    ).orderBy("id_a", "id_b")


def _duck_lsh_bucket(t: int) -> str:
    seeds = [t * NEAR_DUP_PLANES + p for p in range(NEAR_DUP_PLANES)]
    return _duck_bucket_expr("v", seeds)


def _duck_lsh_tables() -> str:
    return "\n    UNION ALL\n    ".join(
        f"SELECT vec_id, {t} AS t, {_duck_lsh_bucket(t)} AS bucket FROM aug"
        for t in range(NEAR_DUP_TABLES)
    )


_NEAR_DUP_SQL = f"""
WITH base AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
aug AS (
    SELECT vec_id, v FROM base
    UNION ALL
    SELECT vec_id + 100000,
           list_transform(range(1, 65),
             i -> CASE WHEN i = 1 THEN v[i] * 1.05 ELSE v[i] END)
    FROM base WHERE vec_id % 10 = 0
),
tb AS (
    {_duck_lsh_tables()}
),
cand AS (
    SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
    FROM tb l JOIN tb r
      ON l.t = r.t AND l.bucket = r.bucket AND l.vec_id < r.vec_id
),
scored AS (
    SELECT c.id_a, c.id_b,
           {_DOT.format(a='a.v', b='b.v')} /
             (sqrt({_DOT.format(a='a.v', b='a.v')}) *
              sqrt({_DOT.format(a='b.v', b='b.v')})) AS cos_sim
    FROM cand c
    JOIN aug a ON a.vec_id = c.id_a
    JOIN aug b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, round(cos_sim, 6) AS cos_sim_r
FROM scored WHERE cos_sim >= 0.99 ORDER BY id_a, id_b
"""


def q_multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: text→bytes payloads decoded by the
    Arrow-batched stub decoder (mapInPandas). Restricted to pure-ASCII
    docs so byte features are oracle-expressible."""
    pin_utc(spark)
    docs = _docs(spark, sf_dir).filter(
        F.octet_length("text") == F.length("text")
    )
    feats = mm.decode_binary_features(mm.documents_as_binary(docs))
    return feats.orderBy("doc_id")


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize + symmetric int8 quantization of every embedding —
    the at-rest compression pre-step for a 100 TB vector corpus. The
    oracle recomputes the identical fold/clamp/round arithmetic over
    the same doubles, so the whole numeric path is hash-checked."""
    pin_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    v = sim.as_double(F.col("embedding"))
    unit = sim.l2_normalize(v)
    q = sim.quantize_int8(unit)
    return emb.select(
        "vec_id",
        F.round(sim._norm(v), 6).alias("norm6"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("qsum"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("q_str"),
    ).orderBy("vec_id")


_EMB_QUANT_SQL = """
WITH v AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
), n AS (
    SELECT vec_id, e,
           sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
    FROM v
), u AS (
    SELECT vec_id, nrm,
           CASE WHEN nrm > 0 THEN list_transform(e, x -> x / nrm) ELSE e END AS ue
    FROM n
), q AS (
    SELECT vec_id, nrm,
           list_transform(ue, x -> CAST(round(greatest(least(x, 1.0), -1.0) * 127) AS INTEGER)) AS qe
    FROM u
)
SELECT vec_id, round(nrm, 6) AS norm6,
       CAST(list_sum(qe) AS BIGINT) AS qsum,
       array_to_string(qe, ',') AS q_str
FROM q ORDER BY vec_id
"""


def q_multimodal_transform_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize + frame-sample plumbing in ONE result (registry
    consolidation round 3): ``kind='resize'`` rows aggregate the
    stride-resize output (k = max_out_bytes), ``kind='frame'`` rows
    histogram docs by frames taken (k = n_frames). Both transforms are
    exactly derivable from payload length, so the Arrow batch plumbing
    is hash-checked end to end."""
    pin_utc(spark)
    binary = mm.documents_as_binary(_docs(spark, sf_dir))

    resized = mm.resize_binary(binary, width=48, height=48).agg(
        F.count("*").alias("n_docs"),
        F.max("out_bytes").cast("long").alias("k"),
        F.sum("out_bytes").alias("total_bytes"),
    ).select(F.lit("resize").alias("kind"), "k", "n_docs", "total_bytes")

    frames = mm.frame_sample(binary, frame_bytes=256, every_n=2, max_frames=4)
    per_doc = frames.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.octet_length("frame")).alias("bytes_sampled"),
    )
    frame_hist = (
        per_doc.groupBy("n_frames")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bytes_sampled").alias("total_bytes"),
        )
        .select(
            F.lit("frame").alias("kind"),
            F.col("n_frames").cast("long").alias("k"),
            "n_docs",
            "total_bytes",
        )
    )
    return resized.unionByName(frame_hist).orderBy("kind", "k")


_TRANSFORM_STATS_SQL = """
WITH b AS (
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS len
    FROM documents
), f AS (
    SELECT doc_id, len, CAST((len + 255) // 256 AS BIGINT) AS nchunks
    FROM b
), s AS (
    SELECT doc_id, len, nchunks,
           LEAST(4, CAST((nchunks + 1) // 2 AS BIGINT)) AS n_frames
    FROM f WHERE nchunks > 0
), d AS (
    SELECT doc_id, n_frames,
           (n_frames - 1) * 256
             + CASE WHEN (n_frames - 1) * 2 = nchunks - 1
                    THEN len - (nchunks - 1) * 256
                    ELSE 256 END AS bytes_sampled
    FROM s
)
SELECT 'resize' AS kind,
       CAST(max(LEAST(len, 2304)) AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(LEAST(len, 2304)) AS BIGINT) AS total_bytes
FROM b
UNION ALL
SELECT 'frame', CAST(n_frames AS BIGINT),
       CAST(count(*) AS BIGINT), CAST(sum(bytes_sampled) AS BIGINT)
FROM d GROUP BY n_frames
ORDER BY kind, k
"""


_MULTIMODAL_SQL = """
WITH ascii_docs AS (
    SELECT doc_id, text FROM documents
    WHERE octet_length(encode(text)) = length(text)
),
b AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE -1 END AS first_byte,
           CAST(coalesce(list_sum(list_transform(range(1, length(text) + 1),
                         i -> ascii(substr(text, i, 1)))), 0) % 251 AS INTEGER) AS checksum_mod
    FROM ascii_docs
)
SELECT doc_id, n_bytes, CAST(first_byte AS INTEGER) AS first_byte, checksum_mod
FROM b ORDER BY doc_id
"""


# Registry order: the similarity/multimodal surface FIRST — the driver's
# correctness window records ~50 rows in registry order, and these were
# the rows that fell off in round 2. Previously-driver-verified text/
# dedup queries follow. Consolidations (round 3, to fit the window):
# sim_lsh_recall + sim_ivf_recall → sim_ann_recall; multimodal_resize_
# stats + multimodal_frame_sample → multimodal_transform_stats;
# simhash_signatures retired (simhash_portable is its hash-checked
# twin); dedup_minhash_candidates retired as a standalone entry
# (dedup_jaccard_verified runs the identical candidate pipeline as its
# input — see its oracle CTE — plus the verify stage).
QUERIES = {
    "simhash_portable": q_simhash_portable,
    # round 7: the three identically-shaped ANN top-k rows ride one
    # tagged union (each arm the ORIGINAL plan via the original
    # callable) — freed two slots for text_line_dedup + dedup_incremental
    "sim_ann_topk_panel": q_sim_ann_topk_panel,
    "sim_ann_recall": q_sim_ann_recall,
    "text_line_dedup": q_text_line_dedup,
    "dedup_incremental": q_dedup_incremental,
    "dedup_embedding_near_dup": q_embedding_near_dup,
    # round 7: SemDeDup — slot freed by folding cdc_op_histogram into
    # the cdc_bronze_dq monitoring panel
    "dedup_semantic": q_dedup_semantic,
    "embedding_quantize": q_embedding_quantize,
    # round 6 (cont.): multimodal_binary_features + multimodal_
    # transform_stats → multimodal_panel (both mapInPandas plans run
    # unchanged; freed the slot for text_tfidf_topterms).
    "multimodal_panel": q_multimodal_panel,
    # round 5: lang_id_confusion + quality_histogram → text_quality_panel
    # (freed the slot for curation_pipeline); round 7: text_stats_by_lang
    # folded in as the 'stats' arm (freed the slot for corpus_profile)
    "text_quality_panel": q_text_quality_panel,
    # round 7: dataset_report + collocations — the last two operators
    # that were pytest-only — get a hash-checked driver row
    "corpus_profile": q_corpus_profile,
    "dedup_exact_groups": q_dedup_exact,
    "dedup_jaccard_verified": q_dedup_jaccard_verified,
    # round-4 additions (slots freed by the analytics consolidations):
    "dedup_clusters": q_dedup_clusters,
    "pii_redaction_audit": q_pii_redaction_audit,
    # round-5 additions (slots freed by folding bronze_latest_peek into
    # cdc_bronze_dq and q12 into tpch_scalar_aggregates):
    "curation_hash_split": q_curation_hash_split,
    "curation_decontam": q_curation_decontam,
    "curation_pipeline": q_curation_pipeline,
    # round 6 (slot freed by folding distinct_counts into
    # analytics.py::setops_customer_cohorts):
    "curation_pack_sequences": q_pack_sequences,
    # round 6 (cont.): new surface on slots freed by the multimodal and
    # catalog consolidations:
    "curation_mixture_sample": q_curation_mixture_sample,
    "text_tfidf_topterms": q_text_tfidf_topterms,
    # round 6 (cont.): slot freed by folding quantity_percentiles into
    # analytics.py::grouping_analytics (pct arm)
    "text_chunk_stats": q_text_chunk_stats,
    # round 6 (cont.): slot freed by folding events_funnel into
    # analytics.py::events_rollups (funnel arm)
    "dedup_duplicate_spans": q_dedup_duplicate_spans,
}

ORACLES = {
    "simhash_portable": _simhash_portable_sql(),
    # The panel unions the three SQL replicas unchanged; the ivf arm
    # runs the iters=0 fixed-centroid quantizer, which IS
    # SQL-expressible (seeds are raw data vectors); the ITERATED
    # quantizer's quality floor is inside sim_ann_recall.
    "sim_ann_topk_panel": _SIM_ANN_TOPK_PANEL_SQL,
    "sim_ann_recall": _ANN_RECALL_SQL,
    "text_line_dedup": _LINE_DEDUP_SQL,
    "dedup_incremental": _DEDUP_INCREMENTAL_SQL,
    "dedup_embedding_near_dup": _NEAR_DUP_SQL,
    "dedup_semantic": _DEDUP_SEMANTIC_SQL,
    "embedding_quantize": _EMB_QUANT_SQL,
    "multimodal_panel": _multimodal_panel_sql(),
    "text_quality_panel": _TEXT_QUALITY_PANEL_SQL,
    "corpus_profile": _CORPUS_PROFILE_SQL,
    "dedup_exact_groups": _DEDUP_EXACT_SQL,
    "dedup_jaccard_verified": _JACCARD_SQL,
    "dedup_clusters": _CLUSTERS_SQL,
    "pii_redaction_audit": _pii_sql(),
    "curation_hash_split": _HASH_SPLIT_SQL,
    "curation_decontam": _DECONTAM_SQL,
    "curation_pipeline": _CURATION_PIPELINE_SQL,
    "curation_pack_sequences": _PACK_SQL,
    "curation_mixture_sample": _MIXTURE_SQL,
    "text_tfidf_topterms": _TFIDF_SQL,
    "text_chunk_stats": _CHUNK_SQL,
    "dedup_duplicate_spans": _DUP_SPANS_SQL,
}
