"""Text analysis operators for training-data pipelines.

All pure built-in expressions (codegen'd, no UDFs): these run at
100 TB as narrow per-row projections — no shuffle, trivially parallel
per input split.

Operators:
- ``tokenize``: whitespace tokens + a BPE-ish regex token count.
- ``text_stats``: length / punctuation / stopword / digit ratios —
  the standard quality-scoring features.
- ``lang_id``: n-gram/stopword-hit heuristic over a small built-in
  lexicon (deterministic; real pipelines would plug fastText here via
  a Pandas UDF — the interface stays per-row columnar either way).
- ``fingerprint``: deterministic document fingerprint (md5 of
  normalized text) for exact-dup detection and stable sampling.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lexicons (public, common words).
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "los", "una"],
}

_STOPWORDS = sorted({w for ws in _LANG_MARKERS.values() for w in ws})

# BPE-ish token regex: word pieces, numbers, punctuation runs.
_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(col: Column) -> Column:
    """Whitespace tokens (empty strings filtered)."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != "")


def token_count(col: Column) -> Column:
    """Regex token count approximating a subword tokenizer's granularity."""
    return F.size(F.regexp_extract_all(col, F.lit(_TOKEN_RE), 0))


def _count_hits(ws: Column, vocab: list[str]) -> Column:
    return F.size(F.filter(ws, lambda w: F.lower(w).isin(vocab)))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-scoring feature columns."""
    c = F.col(text_col)
    ws = words(c)
    n_chars = F.length(c)
    return (
        df.withColumn("n_chars_computed", n_chars.cast("long"))
        .withColumn("n_words", F.size(ws).cast("long"))
        .withColumn("n_tokens", token_count(c).cast("long"))
        .withColumn(
            "punct_ratio",
            F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", ""))
            / F.greatest(n_chars, F.lit(1)),
        )
        .withColumn(
            "digit_ratio",
            F.length(F.regexp_replace(c, r"[^0-9]", "")) / F.greatest(n_chars, F.lit(1)),
        )
        .withColumn(
            "stopword_ratio",
            _count_hits(ws, _STOPWORDS) / F.greatest(F.size(ws), F.lit(1)),
        )
        .withColumn(
            "avg_word_len",
            (n_chars - F.size(ws) + 1) / F.greatest(F.size(ws), F.lit(1)),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0-1 quality score from the stats (monotone heuristic)."""
    scored = with_text_stats(df, text_col)
    ok_len = (F.col("n_words") >= 5) & (F.col("n_words") <= 100000)
    return scored.withColumn(
        "quality_score",
        (
            ok_len.cast("double") * 0.4
            + (F.col("stopword_ratio") > 0.05).cast("double") * 0.3
            + (F.col("punct_ratio") < 0.2).cast("double") * 0.2
            + (F.col("digit_ratio") < 0.3).cast("double") * 0.1
        ),
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID with deterministic tie-break (hit count
    desc, then language code asc); 'und' when nothing matches."""
    c = F.col(text_col)
    ws = words(c)
    hits = F.array(
        *[
            F.struct(
                _count_hits(ws, vocab).alias("hits"), F.lit(lang).alias("lang")
            )
            for lang, vocab in sorted(_LANG_MARKERS.items())
        ]
    )
    # winner = max by (hits, lang) — ties break toward the larger lang
    # code; the oracle replicates the same rule.
    best = F.element_at(F.reverse(F.array_sort(hits)), 1)
    return df.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )


def normalized_fingerprint(col: Column) -> Column:
    """THE canonical exact-dedup fingerprint: md5 of the
    whitespace-collapsed, trimmed, lowercased text. Every consumer
    (``dedup.exact_duplicates``, ``curation.curate_corpus``,
    ``with_fingerprint``, the DuckDB oracles) must use this one
    definition — a second inline copy is how normalizations silently
    diverge. Lives here (not dedup.py) because dedup imports text."""
    return F.md5(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-text md5 fingerprint (lowercase, collapsed whitespace)."""
    return df.withColumn(
        "fingerprint", normalized_fingerprint(F.col(text_col))
    )


# ----------------------------- repetition signals ----------------------


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    "Scaling Language Models", app. A1.1 repetition filters):
    documents dominated by repeated lines or n-grams are low-quality
    training data. Per document:

    - ``dup_word_frac``   — word occurrences beyond each word's first
    - ``dup_2gram_frac``  — same, over word 2-grams
    - ``top_2gram_char_frac`` — chars covered by the most frequent
      2-gram (count × gram length / doc chars; ties break to the
      lexicographically larger gram — deterministic cross-engine)
    - ``dup_line_frac`` / ``dup_line_char_frac`` — line occurrences
      beyond first, and chars inside lines occurring more than once
      (``line_sep``-delimited)

    100 TB shape: three explode → groupBy(doc, unit) → groupBy(doc)
    cascades, every shuffle keyed by ``id_col`` (per-doc locality, no
    global hot key), joined back on ``id_col``. No UDFs — the whole
    plan is codegen'd built-ins."""
    c = F.col(text_col)
    ws = words(F.lower(c))
    base = df.select(
        id_col,
        ws.alias("_ws"),
        F.filter(F.split(c, re.escape(line_sep)), lambda l: l != "").alias(
            "_lines"
        ),
        F.length(c).cast("double").alias("_nc"),
    )

    word_stats = (
        base.select(id_col, F.explode("_ws").alias("u"))
        .groupBy(id_col, "u")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_w"),
            (F.sum("c") - F.count("*")).alias("dup_w"),
        )
    )

    grams = F.when(
        F.size("_ws") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("_ws") - 2),
            lambda i: F.concat_ws(
                " ", F.element_at("_ws", i + 1), F.element_at("_ws", i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gram_counts = (
        base.select(id_col, F.explode(grams).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
    )
    gram_stats = gram_counts.groupBy(id_col).agg(
        F.sum("c").alias("n_g"),
        (F.sum("c") - F.count("*")).alias("dup_g"),
        F.max(F.struct(F.col("c"), F.col("g"))).alias("top"),
    )

    line_stats = (
        base.select(id_col, F.explode("_lines").alias("l"))
        .groupBy(id_col, "l")
        .agg(F.count("*").alias("c"), F.length(F.col("l")).alias("len"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_l"),
            (F.sum("c") - F.count("*")).alias("dup_l"),
            F.sum(F.col("c") * F.col("len")).alias("l_chars"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.col("len")).otherwise(0)
            ).alias("dup_l_chars"),
        )
    )

    def frac(num, den):
        return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
            F.lit(0.0)
        )

    return (
        base.select(id_col, "_nc")
        .join(word_stats, id_col, "left")
        .join(gram_stats, id_col, "left")
        .join(line_stats, id_col, "left")
        .select(
            id_col,
            frac(F.coalesce(F.col("dup_w"), F.lit(0)), F.coalesce(F.col("n_w"), F.lit(0))).alias("dup_word_frac"),
            frac(F.coalesce(F.col("dup_g"), F.lit(0)), F.coalesce(F.col("n_g"), F.lit(0))).alias("dup_2gram_frac"),
            F.least(
                F.lit(1.0),
                frac(
                    F.coalesce(
                        F.col("top.c") * F.length(F.col("top.g")), F.lit(0)
                    ),
                    F.col("_nc"),
                ),
            ).alias("top_2gram_char_frac"),
            frac(F.coalesce(F.col("dup_l"), F.lit(0)), F.coalesce(F.col("n_l"), F.lit(0))).alias("dup_line_frac"),
            frac(
                F.coalesce(F.col("dup_l_chars"), F.lit(0)),
                F.coalesce(F.col("l_chars"), F.lit(0)),
            ).alias("dup_line_char_frac"),
        )
    )


# ----------------------------- PII redaction ---------------------------

# Deliberately conservative, well-known public patterns. Order matters:
# emails first (their digit runs would otherwise feed the phone
# pattern), then ipv4 BEFORE phone (a dotted quad is 8+ digits with
# separators — exactly a phone-shaped run).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d[\d\s().-]{7,}\d",
}


def strip_markup(col: Column) -> Column:
    """Markup stripping — the extraction-cleanup step every web corpus
    needs before quality scoring and dedup (tags survive extraction in
    the tail of any crawl and pollute token counts, fingerprints and
    n-grams). Removes ``<...>`` tags, THEN decodes the common HTML
    entities (``&amp;`` last so ``&amp;lt;`` cannot double-decode;
    entities decoded after tag removal stay literal text), then
    collapses the whitespace the removals leave behind. Chained
    codegen'd ``regexp_replace``/``replace`` — scan-speed, the
    :func:`redact_pii` contract; patterns are Java-regex/RE2
    parity-safe so results are oracle-checkable."""
    c = F.regexp_replace(col, r"<[^>]*>", " ")
    for ent, ch in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ]:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def redact_pii(col: Column) -> Column:
    """Replace emails / phone numbers / IPv4 addresses with typed
    ``[REDACTED:<kind>]`` tokens — the text-side twin of the pipeline's
    pseudonymization (the structured side hashes `user_id`; free text
    headed for a training corpus must be scrubbed too). Chained
    ``regexp_replace`` — pure codegen'd projection, no shuffle, no
    UDFs; at 100 TB this runs at scan speed."""
    out = col
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"[REDACTED:{kind}]")
    return out


def pii_counts(col: Column) -> Column:
    """Struct of per-kind PII match counts (audit metric: how much was
    redacted, reportable per partition/source without keeping the raw
    matches anywhere).

    Counts follow the SAME ordered chain as :func:`redact_pii` — each
    kind is counted on the text with the PRIOR kinds already redacted.
    Counting every pattern independently on the raw text would
    double-count overlaps (a dotted quad like ``192.168.10.1`` also
    matches the phone shape) and report redactions that never happened
    (round-5 review finding); with the chain, sum(counts) == number of
    tokens actually emitted."""
    fields = []
    staged = col
    for kind, pat in PII_PATTERNS.items():
        fields.append(
            F.size(
                F.regexp_extract_all(staged, F.lit(pat), F.lit(0))
            ).alias(kind)
        )
        staged = F.regexp_replace(staged, pat, f"[REDACTED:{kind}]")
    return F.struct(*fields)


def with_pii_redaction(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Corpus scrubbing pass: adds the redacted text and the per-kind
    counts (drop the raw column downstream for a clean-room corpus)."""
    return df.withColumn(out_col, redact_pii(F.col(text_col))).withColumn(
        "pii_counts", pii_counts(F.col(text_col))
    )


def chunk_documents(
    df: DataFrame,
    chunk_chars: int = 1000,
    overlap: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size overlapping character chunks —
    the RAG-ingest / context-window prep step. Chunk ``i`` covers
    ``[i*stride, i*stride + chunk_chars)`` with ``stride = chunk_chars
    - overlap``; the last chunk may be short; empty docs yield no
    chunks.

    Built entirely from codegen'd expressions (``sequence`` →
    ``posexplode`` → ``substring``) — no UDF, no shuffle: chunking is
    a per-row explode that scales with the scan. Output: (id,
    chunk_id, chunk_text, chunk_chars_actual).
    """
    if chunk_chars <= 0 or overlap < 0 or overlap >= chunk_chars:
        raise ValueError(
            f"need chunk_chars > 0 and 0 <= overlap < chunk_chars; got "
            f"{chunk_chars=} {overlap=}"
        )
    stride = chunk_chars - overlap
    n = F.length(F.col(text_col))
    # smallest c with c*stride + overlap >= n  ⇔  chunks cover the text
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.greatest(
            F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1)
        )
    )
    # sequence(a, b) DESCENDS when a > b, so the empty-doc case must be
    # an explicit empty array, not sequence(0, -1).
    idxs = F.when(
        n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(idxs).alias("chunk_id"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.substring(
                F.col(text_col),
                (F.col("chunk_id") * stride + 1).cast("int"),
                chunk_chars,
            ).alias("chunk_text"),
        )
        .withColumn(
            "chunk_chars_actual", F.length("chunk_text").cast("long")
        )
    )


_WORD_RE = r"[a-z]{2,}"


def collocations(
    df: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` bigram collocations by PMI (pointwise mutual
    information) with a ``min_count`` support floor — the classic
    multi-word-expression miner for corpus exploration ("new york",
    "machine learning"). ``pmi = ln(P(ab) / (P(a)·P(b)))`` with bigram
    probability over the bigram total and unigram probabilities over
    the token total.

    Scale shape: tokens arrays are built per row (codegen'd regexp),
    adjacent pairs come from an index-aware ``transform`` over the
    array — no self-join, no window; the three aggregates (bigram,
    unigram, totals) are map-side combinable; the two unigram joins
    shuffle on the word — vocabulary-sized, not corpus-sized. Ties
    break on the bigram string so the top-k is total."""
    from pyspark.sql import Window

    toks = df.select(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(_WORD_RE), 0
        ).alias("a")
    )
    bigrams = toks.select(
        F.explode(
            F.when(
                F.size("a") >= 2,
                F.transform(
                    F.slice(F.col("a"), 1, F.greatest(F.size("a") - 1, F.lit(0))),
                    lambda x, i: F.struct(
                        x.alias("w1"),
                        F.element_at(F.col("a"), i + 2).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    unigrams = toks.select(F.explode("a").alias("w"))

    bg_counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("n_ab"))
    ug_counts = unigrams.groupBy("w").agg(F.count("*").alias("n_w"))
    totals = bg_counts.agg(F.sum("n_ab").alias("n_bg")).crossJoin(
        unigrams.agg(F.count("*").alias("n_tok"))
    )
    u1 = ug_counts.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = ug_counts.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    scored = (
        bg_counts.filter(F.col("n_ab") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi6",
            F.round(
                F.log(
                    (F.col("n_ab") / F.col("n_bg"))
                    / (
                        (F.col("n_w1") / F.col("n_tok"))
                        * (F.col("n_w2") / F.col("n_tok"))
                    )
                ),
                6,
            ),
        )
    )
    # TakeOrdered top-k first (distributed, no global sort), THEN rank
    # the k survivors — a bare global row_number window would funnel
    # every scored bigram through one task.
    topk = scored.orderBy(F.desc("pmi6"), F.asc("w1"), F.asc("w2")).limit(k)
    w = Window.orderBy(F.desc("pmi6"), F.asc("w1"), F.asc("w2"))
    return topk.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("rank", "w1", "w2", "n_ab", "n_w1", "n_w2", "pmi6")


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the classic distinctive-
    term extraction a corpus-exploration / quality-triage pass runs.
    Terms are lowercase alpha runs (len >= 2); ``idf = ln(N / df)``
    with document frequency over the WHOLE input; ties broken by term
    asc so the ranking is total.

    Scale shape: one explode pass builds (doc, term, tf) with a
    map-side-combinable count; df is a second aggregate over the same
    exploded frame grouped by term alone (Catalyst reuses the
    exchange); the idf join shuffles on term — vocabulary-sized, not
    corpus-sized — and the final top-k window partitions by doc. No
    UDFs, no driver-side vocabulary.

    Returns (id, term, tf, df, tfidf6, rank). ``tfidf6`` is rounded to
    6dp — ``ln`` ulps differ across engines.
    """
    from pyspark.sql import Window

    terms = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
        ).alias("term"),
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # N as a broadcast 1-row aggregate (decorrelated scalar), not a
    # driver-side .count() — keeps the whole plan lazy/distributed.
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf6"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf6",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col, "term", "tf", "df", "tfidf6",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _lower_word_pairs(text_col: str):
    """(w1, w2) adjacent lowercased word pairs as an array column —
    the shared pair construction of ``bigram_lm`` and the KN model."""
    arr = F.transform(words(F.col(text_col)), lambda w: F.lower(w))
    return F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.struct(
                F.element_at(arr, i).alias("w1"),
                F.element_at(arr, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def kneser_ney_bigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen &
    Goodman 1998's standard formulation) — the principled smoothing
    upgrade of :func:`bigram_lm`'s stupid backoff:

    ``P_KN(w2|w1) = max(c(w1,w2) - D, 0)/c(w1·)
                    + λ(w1) · P_cont(w2)``
    with ``λ(w1) = D · N1+(w1·)/c(w1·)`` (the discounted mass) and the
    CONTINUATION distribution ``P_cont(w2) = N1+(·w2)/N1+(··)`` —
    w2's probability of appearing in a NEW context, the insight that
    makes "francisco" cheap despite "san francisco" being frequent.

    Returns three artifacts (train once, parquet-persist, score many —
    the ``unigram_lm`` contract): ``bigrams (w1, w2, n12)``,
    ``contexts (w1, n1, lam)``, ``cont (w2, pcont)``. All three are
    (bigram-)vocabulary-sized map-side-combinable aggregates of ONE
    pair-explode pass; the type total rides a broadcast 1-row scalar.
    Every quantity is an exact-count IEEE division — engine-replicable
    without rounding."""
    if not 0.0 < discount < 1.0:
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    p = docs.select(F.explode(_lower_word_pairs(text_col)).alias("p")).select(
        "p.w1", "p.w2"
    )
    bigrams = p.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    contexts = bigrams.groupBy("w1").agg(
        F.sum("n12").alias("n1"), F.count(F.lit(1)).alias("_n1p")
    ).select(
        "w1",
        "n1",
        (F.lit(discount) * F.col("_n1p") / F.col("n1")).alias("lam"),
    )
    types = bigrams.agg(F.count(F.lit(1)).cast("double").alias("_types"))
    cont = (
        bigrams.groupBy("w2")
        .agg(F.count(F.lit(1)).alias("_nc"))
        .crossJoin(F.broadcast(types))
        .select("w2", (F.col("_nc") / F.col("_types")).alias("pcont"))
    )
    return bigrams, contexts, cont


def doc_kn_logprob(
    docs: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    cont: DataFrame,
    discount: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    oov_pcont: float = 1e-10,
) -> DataFrame:
    """Per-doc mean interpolated-KN bigram log-probability (the CCNet
    quality-scoring shape with principled smoothing). Unseen bigram →
    the λ·P_cont mass; unseen CONTEXT word → P_cont alone (the
    standard c(w1)=0 case); unseen w2 → the ``oov_pcont`` floor (KN
    assigns continuation mass only to seen types — the floor keeps the
    log finite, exactly replayed by the oracle). ``discount`` must
    match the model's. Output: (id, n_pairs, mean_logp 6dp); pairless
    docs emit no row.

    Scale: one pair explode; three vocabulary-sized left joins
    (bigram/context/continuation tables); per-doc mean map-side
    combinable."""
    dp = docs.select(
        F.col(id_col), F.explode(_lower_word_pairs(text_col)).alias("p")
    ).select(id_col, "p.w1", "p.w2")
    j = (
        dp.join(bigrams, ["w1", "w2"], "left")
        .join(contexts, "w1", "left")
        .join(cont, "w2", "left")
    )
    pc = F.coalesce(F.col("pcont"), F.lit(oov_pcont))
    p_kn = F.when(
        F.col("n1").isNotNull(),
        F.greatest(
            F.coalesce(F.col("n12"), F.lit(0)) - F.lit(discount), F.lit(0.0)
        )
        / F.col("n1")
        + F.col("lam") * pc,
    ).otherwise(pc)
    return (
        j.select(id_col, F.log(p_kn).alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("_lp"), 6).alias("mean_logp"),
        )
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Okapi BM25 top-``k`` retrieval (Robertson & Spärck Jones
    weighting; the Lucene-standard always-positive idf form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``): score every document
    against each query's term set, keep the ``k`` best per query.
    ``queries`` is (query_id, terms array<string>); repeated query
    terms count once (the standard short-query treatment).

    Scale shape: ONE explode pass builds (doc, term, tf); document
    length and the corpus stats (N, avgdl) are aggregates of that same
    frame (1-row stats broadcast); df is the vocabulary-sized term
    aggregate. The query term table is tiny by definition — its join
    onto tf broadcasts and FILTERS the corpus to matching postings
    before any other join (classic term-at-a-time retrieval: cost is
    Σ posting-list lengths of the query terms, never |corpus|·|Q|).
    The final window partitions by query — per-query candidate lists.

    Determinism: the summed score is rounded to 6dp (ln/division ulps
    and FP-sum order differ across engines; per-(query, doc) sums span
    ≤ |query terms| values, so 1e-15-scale error never reaches the 6th
    decimal) and ranking orders by the ROUNDED score with the doc id
    as total tie-break — rank-over-rounded, engine-independent.

    Returns (query_id, doc_id, n_hit_terms, score6, rank).
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    terms = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_WORD_RE), 0)
        ).alias("term"),
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = tf.agg(
        F.count_distinct(F.col(id_col)).cast("double").alias("n_docs"),
        (F.sum("tf") / F.count_distinct(F.col(id_col))).alias("avgdl"),
    )
    q = queries.select(
        F.col(query_id_col), F.explode(F.col(terms_col)).alias("term")
    ).distinct()
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score6"), F.asc(id_col)
    )
    return (
        tf.join(F.broadcast(q), "term")
        .join(dfreq, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(query_id_col, id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.round(F.sum(idf * norm), 6).alias("score6"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col, "n_hit_terms", "score6",
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ----------------------- unigram LM / perplexity filter ---------------------


def unigram_lm(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-trained unigram language model — the CCNet-style
    perplexity-filter scoring model as a write-once artifact: one row
    per lowercased word, ``(w, logp, _total)`` with
    ``logp = ln(count / total)``. Train it ONCE on a trusted reference
    corpus, parquet-persist it, and score any number of candidate
    corpora against it (the same amortization contract as
    ``similarity.lsh_index`` / ``curation.corpus_ngrams``). ``_total``
    rides every row as a constant column (parquet RLE makes it free) so
    scorers can price unseen words at ``ln(1 / total)`` without
    re-aggregating the model."""
    toks = docs.select(
        F.explode(words(F.col(text_col))).alias("w0")
    ).select(F.lower(F.col("w0")).alias("w"))
    counts = toks.groupBy("w").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "w",
        F.log(F.col("n") / F.col("_total")).alias("logp"),
        "_total",
    )


def doc_logprob(
    docs: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc mean unigram log-probability under a :func:`unigram_lm`
    model — the perplexity-filter signal (higher = more reference-like
    text; gibberish and boilerplate-free word salad score low). Words
    absent from the model price at the ``ln(1 / total)`` floor. Output:
    (id, n_scored, mean_logp 6dp).

    Scale shape: one explode pass; the model join shuffles on the word
    — VOCABULARY-sized, not corpus-sized (same as TF-IDF's df join);
    the floor constant arrives as a broadcast 1-row scalar; the per-doc
    mean is a map-side-combinable avg. 6dp rounding absorbs the
    sub-1e-9 summation-order slack of the double mean, keeping the
    output engine-portable."""
    toks = docs.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("w0")
    ).select(id_col, F.lower(F.col("w0")).alias("w"))
    floor = F.broadcast(
        lm.agg(F.first("_total").alias("_total")).select(
            F.log(F.lit(1.0) / F.col("_total")).alias("_floor")
        )
    )
    scored = (
        toks.join(lm.select("w", "logp"), "w", "left")
        .crossJoin(floor)
        .select(id_col, F.coalesce(F.col("logp"), F.col("_floor")).alias("lp"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_scored"),
        F.round(F.avg("lp"), 6).alias("mean_logp"),
    )


def perplexity_buckets(
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "mean_logp",
    n_bins: int = 1000,
    shares: tuple = (1.0 / 3.0, 2.0 / 3.0),
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): split a
    scored corpus into head / middle / tail by perplexity — head =
    most reference-like (LOWEST perplexity = HIGHEST mean log-prob),
    the slice CCNet keeps outright; tail = the candidate-discard
    slice. Input is :func:`doc_logprob` output (or anything with a
    per-doc score where higher = better).

    Scale shape — deliberately NOT a global ``ntile`` (that is one
    all-corpus sort task): thresholds come from a FIXED-WIDTH
    histogram of the 6dp-rounded score (the PSI/KS binning
    discipline) — one map-side-combinable ``groupBy(bin)`` whose
    shuffle carries ≤ ``n_bins`` rows, a cumulative share over that
    bounded frame, and the requested ``shares`` cut at bin upper
    edges. Buckets are therefore BIN-QUANTIZED quantiles (boundary
    error ≤ range/n_bins, CCNet's own cutoffs are similarly
    approximate); every doc then buckets with one broadcast-scalar
    comparison — a pure projection over the corpus. Deterministic /
    engine-replayable: identical IEEE arithmetic over the rounded
    scores on both sides, no summation-order exposure. Output:
    (id, score6, ppl_bucket) with bucket in {'head','middle','tail'}
    (higher score → better bucket); a degenerate constant-score corpus
    lands everything in 'head'."""
    from pyspark.sql import Window

    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    if len(shares) != 2 or not 0.0 < shares[0] < shares[1] < 1.0:
        raise ValueError(f"shares must be two increasing values in (0,1), got {shares}")
    s6 = F.round(F.col(score_col), 6)
    base = scored.select(F.col(id_col), s6.alias("score6"))
    bounds = base.agg(
        F.min("score6").alias("_lo"), F.max("score6").alias("_hi")
    )
    width = F.when(
        F.col("_hi") > F.col("_lo"),
        (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins)),
    )
    raw_bin = F.floor((F.col("score6") - F.col("_lo")) / width)
    bin_ = F.coalesce(
        F.greatest(F.lit(0), F.least(F.lit(n_bins - 1), raw_bin)), F.lit(0)
    ).cast("int")
    counts = (
        base.crossJoin(F.broadcast(bounds))
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w = Window.partitionBy(F.lit(1)).orderBy("bin")  # bounded: <= n_bins
    cum = counts.select(
        "bin",
        (
            F.sum("_n").over(w)
            / F.sum("_n").over(Window.partitionBy(F.lit(1)))
        ).alias("_cum"),
    )
    # threshold_i = upper edge of the first bin whose cumulative share
    # reaches shares[i]; scores are ordered ASCENDING, so the LOW cut
    # bounds the tail and the HIGH cut starts the head
    cuts = cum.agg(
        F.min(F.when(F.col("_cum") >= F.lit(float(shares[0])), F.col("bin"))).alias("_b1"),
        F.min(F.when(F.col("_cum") >= F.lit(float(shares[1])), F.col("bin"))).alias("_b2"),
    ).crossJoin(F.broadcast(bounds)).select(
        (F.col("_lo") + (F.col("_b1") + 1) * width).alias("_t1"),
        (F.col("_lo") + (F.col("_b2") + 1) * width).alias("_t2"),
    )
    return (
        base.crossJoin(F.broadcast(cuts))
        .select(
            id_col,
            "score6",
            F.when(F.col("_t1").isNull(), F.lit("head"))
            .when(F.col("score6") > F.col("_t2"), F.lit("head"))
            .when(F.col("score6") > F.col("_t1"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
    )


def dsir_logweights(
    docs: DataFrame,
    target_lm: DataFrame,
    raw_lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per doc,
    ``log w = Σ_tokens [ log p_target(w) − log p_raw(w) ]`` under two
    :func:`unigram_lm` artifacts — the paper's hashed-n-gram generative
    models in the unigram family this repo's perplexity filter already
    trains. Positive = more target-like; select by ranking on the
    weight (the deterministic stand-in for the paper's Gumbel-noised
    resampling, same substitution as ``semantic_dedup``'s min-id
    keeper). Words absent from a model price at its ``ln(1/total)``
    floor. Output: ``(id, n_tokens, log_weight)`` with the weight
    rounded to 4dp — the precision ``nb_classify`` already proved
    engine-portable for sum-over-token log scores.

    Scale shape: the two vocab tables full-outer-join into ONE
    ``(w, lp_t, lp_r)`` lookup — vocabulary-sized, corpus-independent;
    corpus tokens explode once and join that lookup once (the same
    vocabulary-sized shuffle as TF-IDF's df join); the per-doc sum is
    map-side combinable. Train both LMs once, parquet-persist, score
    any number of candidate corpora — the write-once artifact contract
    of ``lsh_index`` / ``corpus_ngrams``."""
    lookup = (
        target_lm.select("w", F.col("logp").alias("_lp_t"))
        .join(raw_lm.select("w", F.col("logp").alias("_lp_r")), "w", "full")
    )
    floors = F.broadcast(
        target_lm.agg(F.first("_total").alias("_tt"))
        .crossJoin(raw_lm.agg(F.first("_total").alias("_rt")))
        .select(
            F.log(F.lit(1.0) / F.col("_tt")).alias("_floor_t"),
            F.log(F.lit(1.0) / F.col("_rt")).alias("_floor_r"),
        )
    )
    toks = docs.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("w0")
    ).select(id_col, F.lower(F.col("w0")).alias("w"))
    scored = (
        toks.join(lookup, "w", "left")
        .crossJoin(floors)
        .select(
            id_col,
            (
                F.coalesce(F.col("_lp_t"), F.col("_floor_t"))
                - F.coalesce(F.col("_lp_r"), F.col("_floor_r"))
            ).alias("_d"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.sum("_d"), 4).alias("log_weight"),
    )


def bigram_lm(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-trained bigram language model — the n-gram upgrade of
    :func:`unigram_lm` (CCNet scores with a 5-gram KenLM; a bigram MLE
    with stupid backoff is the same family, SQL-replicable). One row
    per adjacent lowercased word pair: ``(w1, w2, logp)`` with
    ``logp = ln(c(w1,w2) / c(w1·))`` — the MLE conditional over the
    pair table. Train once, parquet-persist, score many (the
    ``unigram_lm`` artifact contract). Pairs are built with an
    index-aware ``transform`` over the token array (``collocations``'
    machinery — no self-join, no per-token window); the model
    aggregate is bigram-vocabulary-sized, map-side combinable."""
    arr = F.transform(words(F.col(text_col)), lambda w: F.lower(w))
    pairs = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.struct(
                F.element_at(arr, i).alias("w1"),
                F.element_at(arr, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    p = docs.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    c12 = p.groupBy("w1", "w2").agg(F.count("*").alias("_n12"))
    c1 = p.groupBy("w1").agg(F.count("*").alias("_n1"))
    return c12.join(c1, "w1").select(
        "w1", "w2", F.log(F.col("_n12") / F.col("_n1")).alias("logp")
    )


def doc_bigram_logprob(
    docs: DataFrame,
    bi_lm: DataFrame,
    uni_lm: DataFrame,
    alpha: float = 0.4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc mean bigram log-probability with STUPID BACKOFF (Brants
    et al. 2007, "Large language models in machine translation"): each
    adjacent pair scores ``logp_bi(w1,w2)`` when the bigram is in the
    model, else ``ln(alpha) + logp_uni(w2)`` (unigram floor
    ``ln(1/total)`` when even the word is unseen) — the web-scale
    smoothing that needs no held-out tuning. Higher = more
    reference-like word ORDER, the signal unigram perplexity cannot
    see (a scrambled doc keeps its unigram score, its bigram score
    collapses to backoff). Output: ``(id, n_pairs, mean_logp 6dp)``;
    single-word docs have no pairs and emit no row.

    Scale shape: one pair-explode pass; the bigram join shuffles on
    (w1,w2) — bigram-VOCABULARY-sized; the unigram fallback join is
    ``doc_logprob``'s vocabulary-sized join; floors/constants arrive
    broadcast; the per-doc mean is map-side combinable."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    arr = F.transform(words(F.col(text_col)), lambda w: F.lower(w))
    pairs = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.struct(
                F.element_at(arr, i).alias("w1"),
                F.element_at(arr, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    dp = docs.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        id_col, "p.w1", "p.w2"
    )
    floor = F.broadcast(
        uni_lm.agg(F.first("_total").alias("_total")).select(
            F.log(F.lit(1.0) / F.col("_total")).alias("_floor")
        )
    )
    scored = (
        dp.join(bi_lm.withColumnRenamed("logp", "_lp_bi"), ["w1", "w2"], "left")
        .join(
            uni_lm.select(
                F.col("w").alias("w2"), F.col("logp").alias("_lp_u")
            ),
            "w2",
            "left",
        )
        .crossJoin(floor)
        .select(
            id_col,
            F.coalesce(
                F.col("_lp_bi"),
                F.lit(math.log(alpha))
                + F.coalesce(F.col("_lp_u"), F.col("_floor")),
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg("lp"), 6).alias("mean_logp"),
    )


def normalize_text(
    col: Column,
    form: str = "NFC",
    casefold: bool = False,
    strip_accents: bool = False,
) -> Column:
    """Unicode text normalization — the preprocessing step every
    multilingual corpus needs before hashing/dedup (a composed and a
    decomposed "é" are different bytes, so exact dedup and MinHash
    both miss the match until text is normalized). Spark has no
    built-in ICU normalizer, so this is a deliberately SANCTIONED
    Arrow-batched ``pandas_udf`` (Python's ``unicodedata`` is the
    reference implementation) — the slow path by design: run it ONCE
    at ingest and persist the normalized column; never call it inside
    a per-query hot path (``test_no_python_hot_paths`` enforces that
    no registered query does).

    ``form``: NFC/NFD/NFKC/NFKD. ``casefold``: full Unicode casefold
    (ß → ss), stronger than lower(). ``strip_accents``: NFD-decompose,
    drop combining marks, then apply ``form``.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NB: text.py uses `from __future__ import annotations`, so the
    # hint below is the STRING "pd.Series"; pyspark resolves it via
    # get_type_hints against this function's globals — bind pd there.
    normalize_text.__globals__.setdefault("pd", pd)

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        def one(x):
            if x is None:
                return None
            y = x
            if strip_accents:
                y = "".join(
                    ch
                    for ch in unicodedata.normalize("NFD", y)
                    if not unicodedata.combining(ch)
                )
            y = unicodedata.normalize(form, y)
            if casefold:
                y = y.casefold()
            return y

        return s.map(one)

    return _norm(col)


# ------------- trained quality / domain classifier (Naive Bayes) ------------


def nb_model(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """Multinomial Naive Bayes text classifier — the TRAINED curation
    filter of GPT-3-era pipelines (the fastText-style "is this
    reference-like?" quality gate, domain router, or language
    classifier; reference's repo has no classifier — this extends the
    unigram-LM perplexity filter, ``unigram_lm``, with supervision).
    Train ONCE on a labeled reference set, parquet-persist, score any
    number of candidate corpora — the same write-once artifact
    contract as ``unigram_lm`` / ``similarity.lsh_index``.

    One row per (label, word)::

        (label, w, logp, floor_logp, log_prior)

    with Laplace-smoothed ``logp = ln((n_lw + alpha) / (n_l + alpha·V))``
    where ``V`` is the corpus vocabulary size; ``floor_logp`` prices
    words unseen under that label (``n_lw = 0``) and ``log_prior`` is
    the class prior — both label-constant columns riding every row
    (parquet RLE makes them ~free) so scorers never re-aggregate the
    model. All three are stored 6dp-ROUNDED: the artifact is
    engine-portable and byte-deterministic (the ``tfidf6`` /
    ``mean_logp`` precedent) at a precision far beyond any
    classification margin that matters.

    Scale shape: one explode pass; (label, w) counts and per-label
    totals are map-side-combinable aggregates; vocabulary size and the
    doc total arrive as broadcast 1-row scalars; output is
    O(labels × vocabulary) — corpus-size-independent."""
    toks = docs.select(
        F.col(label_col).alias("label"),
        F.explode(words(F.col(text_col))).alias("w0"),
    ).select("label", F.lower(F.col("w0")).alias("w"))
    cw = toks.groupBy("label", "w").agg(F.count("*").alias("n"))
    ctot = cw.groupBy("label").agg(F.sum("n").alias("n_l"))
    vsize = cw.agg(F.countDistinct("w").alias("v"))
    priors = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("nd")
    )
    total = priors.agg(F.sum("nd").alias("td"))
    lab = (
        ctot.join(priors, "label")
        .crossJoin(F.broadcast(vsize))
        .crossJoin(F.broadcast(total))
        .select(
            "label",
            F.round(
                F.log(F.lit(alpha) / (F.col("n_l") + alpha * F.col("v"))), 6
            ).alias("floor_logp"),
            F.round(
                F.log(F.col("nd").cast("double") / F.col("td")), 6
            ).alias("log_prior"),
            "n_l",
            "v",
        )
    )
    return cw.join(lab, "label").select(
        "label",
        "w",
        F.round(
            F.log((F.col("n") + F.lit(alpha)) / (F.col("n_l") + alpha * F.col("v"))),
            6,
        ).alias("logp"),
        "floor_logp",
        "log_prior",
    )


def nb_classify(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents under a :func:`nb_model` artifact and take the
    argmax class: ``(id, label_pred, score)`` with
    ``score = round(log_prior + Σ_tokens logp-or-floor, 4)`` — the 4dp
    round absorbs cross-engine/cross-partition summation-order slack
    so the argmax (and therefore every downstream keep/drop decision)
    is deterministic; ties break to the lexicographically smallest
    label via a single ``min_by`` hash aggregate (no per-doc window).
    Docs with zero tokens are absent from the output (nothing to
    classify) — mirror of ``doc_logprob``.

    Scale shape: tokens × labels expansion via a BROADCAST of the
    O(labels) summary table (labels are single digits to hundreds in
    every real curation filter); the model join shuffles on (label, w)
    — vocabulary-sized, not corpus-sized (``doc_logprob``'s standing);
    per-doc scores and the argmax are map-side-combinable hash aggs."""
    lab = F.broadcast(
        model.groupBy("label").agg(
            F.first("floor_logp").alias("floor_logp"),
            F.first("log_prior").alias("log_prior"),
        )
    )
    toks = docs.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("w0")
    ).select(id_col, F.lower(F.col("w0")).alias("w"))
    scored = (
        toks.crossJoin(lab)
        .join(model.select("label", "w", "logp"), ["label", "w"], "left")
        .groupBy(id_col, "label")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("logp"), F.col("floor_logp")))
                + F.first("log_prior"),
                4,
            ).alias("score")
        )
    )
    return scored.groupBy(id_col).agg(
        F.min_by(
            "label", F.struct((-F.col("score")).alias("ns"), F.col("label"))
        ).alias("label_pred"),
        F.max("score").alias("score"),
    )


# ---------------------------------------------------------------- BLEU


def _ngram_arrays(ws: Column, max_n: int) -> Column:
    """All 1..max_n-grams of a token array as (n, gram) structs in ONE
    column — grams joined on U+001F so multi-word grams are unambiguous.
    ``sequence(a, b)`` DESCENDS when a > b, so short arrays get an
    explicit empty slice per n."""
    def gram_fn(nn: int):
        # single-arg lambda on purpose: a two-arg lambda makes
        # ``transform`` pass (element, INDEX) and the index would
        # silently shadow the captured n
        return lambda i: F.struct(
            F.lit(nn).alias("n"),
            F.concat_ws("\x1f", F.slice(ws, i, nn)).alias("gram"),
        )

    per_n = [
        F.when(
            F.size(ws) >= n,
            F.transform(F.sequence(F.lit(1), F.size(ws) - n + 1), gram_fn(n)),
        ).otherwise(F.array().cast("array<struct<n:int,gram:string>>"))
        for n in range(1, max_n + 1)
    ]
    return F.flatten(F.array(*per_n))


def bleu_pair_stats(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
    max_n: int = 4,
) -> DataFrame:
    """Per-pair BLEU ingredients (Papineni et al. 2002): for each
    n ≤ ``max_n`` the CLIPPED n-gram matches (``sum over candidate
    grams of min(count_cand, count_ref)`` — the modified precision
    numerator) and the candidate n-gram total, pivoted wide
    (``clipped_1``..``total_4``), plus whitespace-token lengths of both
    sides. Output: one row per pair.

    Scale shape: tokens + grams are built per row (codegen'd
    ``transform``/``slice`` — no self-join); both sides ride ONE
    tagged union so clipping is a single ``groupBy(id, n, gram)``
    with map-side combine (shuffle keyed on pair+gram, never
    corpus-crossing); the pivot is a second |pairs|-keyed aggregate."""
    cw = words(F.col(cand_col))
    rw = words(F.col(ref_col))
    cand = pairs.select(
        F.col(id_col),
        F.explode(_ngram_arrays(cw, max_n)).alias("g"),
    ).select(id_col, "g.n", "g.gram", F.lit(1).alias("_c"), F.lit(0).alias("_r"))
    ref = pairs.select(
        F.col(id_col),
        F.explode(_ngram_arrays(rw, max_n)).alias("g"),
    ).select(id_col, "g.n", "g.gram", F.lit(0).alias("_c"), F.lit(1).alias("_r"))
    per_gram = (
        cand.unionByName(ref)
        .groupBy(id_col, "n", "gram")
        .agg(F.sum("_c").alias("c"), F.sum("_r").alias("r"))
    )
    stats = per_gram.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("n") == n, F.least(F.col("c"), F.col("r"))).otherwise(0)
            ).alias(f"clipped_{n}")
            for n in range(1, max_n + 1)
        ],
        *[
            F.sum(F.when(F.col("n") == n, F.col("c")).otherwise(0)).alias(
                f"total_{n}"
            )
            for n in range(1, max_n + 1)
        ],
    )
    lengths = pairs.select(
        F.col(id_col),
        F.size(cw).cast("long").alias("cand_len"),
        F.size(rw).cast("long").alias("ref_len"),
    )
    # empty candidates produce no gram rows — restore them with zeros
    return lengths.join(stats, id_col, "left").na.fill(
        0, [f"clipped_{n}" for n in range(1, max_n + 1)]
        + [f"total_{n}" for n in range(1, max_n + 1)]
    )


def bleu_scores(stats: DataFrame, max_n: int = 4) -> DataFrame:
    """(clipped_n, total_n, cand_len, ref_len) → bp, p1..p4, bleu
    (6dp — the standing cross-engine contract for log/exp math).
    Unsmoothed: any zero precision (or empty candidate) → bleu 0."""
    # try_divide: an empty candidate has total 0 → p_n NULL (and bleu 0
    # via the all_pos guard), instead of an ANSI divide-by-zero error
    ps = [
        F.try_divide(F.col(f"clipped_{n}"), F.col(f"total_{n}")).alias(f"p{n}")
        for n in range(1, max_n + 1)
    ]
    bp = F.when(F.col("cand_len") <= F.lit(0), F.lit(0.0)).otherwise(
        F.exp(
            F.least(
                F.lit(0.0),
                F.lit(1.0) - F.col("ref_len") / F.col("cand_len"),
            )
        )
    )
    with_p = stats.select("*", *ps, bp.alias("bp"))
    all_pos = None
    for n in range(1, max_n + 1):
        cond = (F.col(f"total_{n}") > 0) & (F.col(f"clipped_{n}") > 0)
        all_pos = cond if all_pos is None else (all_pos & cond)
    geo = F.exp(
        sum(
            (F.log(F.col(f"p{n}")) / F.lit(float(max_n)))
            for n in range(1, max_n + 1)
        )
    )
    bleu = F.when(all_pos, F.round(F.col("bp") * geo, 6)).otherwise(F.lit(0.0))
    return with_p.select(
        *[c for c in stats.columns],
        *[F.round(F.col(f"p{n}"), 6).alias(f"p{n}") for n in range(1, max_n + 1)],
        F.round(F.col("bp"), 6).alias("bp"),
        bleu.alias("bleu"),
    )


def sentence_bleu(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
    max_n: int = 4,
) -> DataFrame:
    """Per-pair unsmoothed BLEU-4 (+ brevity penalty and per-n modified
    precisions) — the generation-eval metric over (candidate,
    reference) text pairs."""
    return bleu_scores(
        bleu_pair_stats(pairs, cand_col, ref_col, id_col, max_n), max_n
    )


def corpus_bleu(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
    max_n: int = 4,
) -> DataFrame:
    """Corpus-level BLEU (the paper's definition: clip/total sums and
    length sums pooled over ALL pairs before the ratios) — 1 row:
    cand_len, ref_len, clipped_n/total_n, p1..p4, bp, bleu."""
    return bleu_scores(
        pool_bleu_stats(bleu_pair_stats(pairs, cand_col, ref_col, id_col, max_n), max_n),
        max_n,
    )


def pool_bleu_stats(per_pair: DataFrame, max_n: int = 4) -> DataFrame:
    """Pool per-pair BLEU ingredients corpus-wide (the paper's
    corpus-level definition: sums before ratios); 1 row."""
    return per_pair.agg(
        F.sum("cand_len").alias("cand_len"),
        F.sum("ref_len").alias("ref_len"),
        *[
            F.sum(f"clipped_{n}").alias(f"clipped_{n}")
            for n in range(1, max_n + 1)
        ],
        *[F.sum(f"total_{n}").alias(f"total_{n}") for n in range(1, max_n + 1)],
    )


def rouge_n(
    pairs: DataFrame,
    n: int = 2,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
) -> DataFrame:
    """ROUGE-N (Lin 2004): clipped n-gram co-occurrence
    recall/precision/F over whitespace tokens — the n-gram half of the
    ROUGE family next to :func:`rouge_l`'s LCS half, and unlike the
    LCS it is FULLY relational (no Arrow path): one tagged-union
    explode builds per-(pair, gram) counts for both sides in a single
    map-side-combinable aggregate (the ``bleu_pair_stats`` shape),
    clipping is ``least(c_cand, c_ref)`` per gram, and the final
    aggregate is pair-sized. Every pair keeps a row (gramless sides
    score 0). Ratios 6dp (value-over-rounded). Output: (id, match,
    cand_grams, ref_grams, rouge_p, rouge_r, rouge_f)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    def grams(col: str):
        ws = words(F.col(col))
        return F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - n),
                lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    cg = pairs.select(
        F.col(id_col), F.explode(grams(cand_col)).alias("g")
    ).select(id_col, "g", F.lit(1).alias("c"), F.lit(0).alias("r"))
    rg = pairs.select(
        F.col(id_col), F.explode(grams(ref_col)).alias("g")
    ).select(id_col, "g", F.lit(0).alias("c"), F.lit(1).alias("r"))
    per_gram = (
        cg.unionByName(rg)
        .groupBy(id_col, "g")
        .agg(F.sum("c").alias("c"), F.sum("r").alias("r"))
    )
    s = per_gram.groupBy(id_col).agg(
        F.sum(F.least("c", "r")).alias("match"),
        F.sum("c").alias("cand_grams"),
        F.sum("r").alias("ref_grams"),
    )
    out = pairs.select(id_col).join(s, id_col, "left")
    m = F.coalesce(F.col("match"), F.lit(0)).cast("double")
    p = F.try_divide(m, F.col("cand_grams"))
    r = F.try_divide(m, F.col("ref_grams"))
    f = F.try_divide(2 * p * r, p + r)
    return out.select(
        id_col,
        F.coalesce(F.col("match"), F.lit(0)).alias("match"),
        F.coalesce(F.col("cand_grams"), F.lit(0)).alias("cand_grams"),
        F.coalesce(F.col("ref_grams"), F.lit(0)).alias("ref_grams"),
        F.coalesce(F.round(p, 6), F.lit(0.0)).alias("rouge_p"),
        F.coalesce(F.round(r, 6), F.lit(0.0)).alias("rouge_r"),
        F.when(m == 0, F.lit(0.0))
        .otherwise(F.round(f, 6))
        .alias("rouge_f"),
    )


def rouge_l(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
    max_tokens: int = 200,
) -> DataFrame:
    """ROUGE-L (Lin 2004): LCS-based precision/recall/F over whitespace
    tokens — the subsequence half of generation eval next to
    :func:`corpus_bleu`'s n-gram half. The LCS length is an inherently
    sequential O(|a|·|b|) dynamic program no relational composition
    expresses, so this is a deliberately SANCTIONED Arrow-batched
    ``pandas_udf`` (the ``normalize_text`` precedent): eval-set sized
    inputs, never a corpus hot path — and both sides are truncated to
    ``max_tokens`` (the standard eval truncation), which bounds the
    per-pair DP at max_tokens². Output: (id, cand_tokens, ref_tokens,
    lcs, rouge_p, rouge_r, rouge_f), ratios 6dp, empty sides scoring
    0 via the all-null→0 F fallback."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rouge_l.__globals__.setdefault("pd", pd)

    @pandas_udf("int")
    def _lcs(c: pd.Series, r: pd.Series) -> pd.Series:
        def lcs_len(a, b) -> int:
            a = list(a) if a is not None else []
            b = list(b) if b is not None else []
            if not a or not b:
                return 0
            prev = [0] * (len(b) + 1)
            for x in a:
                cur = [0] * (len(b) + 1)
                for j, y in enumerate(b, 1):
                    cur[j] = (
                        prev[j - 1] + 1 if x == y else max(prev[j], cur[j - 1])
                    )
                prev = cur
            return prev[-1]

        return pd.Series([lcs_len(a, b) for a, b in zip(c, r)])

    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    base = pairs.select(
        F.col(id_col),
        F.slice(words(F.col(cand_col)), 1, max_tokens).alias("_cw"),
        F.slice(words(F.col(ref_col)), 1, max_tokens).alias("_rw"),
    )
    counted = base.select(
        id_col,
        F.size("_cw").cast("long").alias("cand_tokens"),
        F.size("_rw").cast("long").alias("ref_tokens"),
        _lcs("_cw", "_rw").cast("long").alias("lcs"),
    )
    p = F.try_divide(F.col("lcs"), F.col("cand_tokens"))
    r = F.try_divide(F.col("lcs"), F.col("ref_tokens"))
    f = F.try_divide(2 * p * r, p + r)
    return counted.select(
        "*",
        F.round(p, 6).alias("rouge_p"),
        F.round(r, 6).alias("rouge_r"),
        F.coalesce(F.round(f, 6), F.lit(0.0)).alias("rouge_f"),
    )


def chrf(
    pairs: DataFrame,
    max_order: int = 6,
    beta: float = 2.0,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
) -> DataFrame:
    """chrF (Popović 2015): character n-gram F-score — the
    tokenization-free MT/generation metric next to BLEU's and ROUGE's
    word n-grams (sacrebleu's chrF2 defaults: orders 1..6, β=2 so
    recall counts double, whitespace removed before gram extraction).

    Per order n: P_n = Σ_g min(c_cand, c_ref) / Σ_g c_cand and R_n
    likewise over reference counts (clipped-gram overlap, the
    ``rouge_n`` shape); chrP/chrR average P_n/R_n over EFFECTIVE
    orders (those where either side has grams — the sacrebleu
    convention; an order with grams on one side only contributes its
    zero); chrF = (1+β²)·P·R / (β²·P + R), 0 when P+R = 0.

    Fully relational and engine-replayable: ONE tagged-union explode
    of (order, gram) structs per side → a single map-side-combinable
    (pair, n, gram) aggregate → per-(pair, n) clipped sums → the
    per-pair reduction runs as a LEFT FOLD over the n-sorted order
    array (``F.aggregate`` — deterministic term order, the
    ``brute_force_topk``/idcg contract), never a float groupBy-sum.
    6dp ratios. Output: (id, eff_orders, chrf_p, chrf_r, chrf); pairs
    with no grams on either side score 0."""
    if max_order < 1:
        raise ValueError(f"max_order must be >= 1, got {max_order}")
    if beta <= 0:
        raise ValueError(f"beta must be positive, got {beta}")

    def _gram_fn(s, n):
        # a ONE-parameter lambda via factory closure: a `lambda i, n=n`
        # default-arg would make PySpark pass (element, INDEX) and the
        # index silently shadows the captured order (the standing
        # F.transform arity pitfall)
        return lambda i: F.struct(
            F.lit(n).alias("n"), F.substring(s, i, F.lit(n)).alias("g")
        )

    def tagged(col: str):
        s = F.regexp_replace(F.col(col), r"\s+", "")
        per_n = [
            F.when(
                F.length(s) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.length(s) - n + 1),
                    _gram_fn(s, n),
                ),
            ).otherwise(F.array().cast("array<struct<n:int,g:string>>"))
            for n in range(1, max_order + 1)
        ]
        return F.flatten(F.array(*per_n))

    cg = pairs.select(
        F.col(id_col), F.explode(tagged(cand_col)).alias("t")
    ).select(id_col, "t.n", "t.g", F.lit(1).alias("c"), F.lit(0).alias("r"))
    rg = pairs.select(
        F.col(id_col), F.explode(tagged(ref_col)).alias("t")
    ).select(id_col, "t.n", "t.g", F.lit(0).alias("c"), F.lit(1).alias("r"))
    per_gram = (
        cg.unionByName(rg)
        .groupBy(id_col, "n", "g")
        .agg(F.sum("c").alias("c"), F.sum("r").alias("r"))
    )
    per_order = per_gram.groupBy(id_col, "n").agg(
        F.sum(F.least("c", "r")).cast("double").alias("m"),
        F.sum("c").cast("double").alias("cn"),
        F.sum("r").cast("double").alias("rn"),
    )
    folded = per_order.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("n", "m", "cn", "rn"))
        ).alias("_os")
    )
    eff = F.aggregate(
        F.col("_os"),
        F.lit(0),
        lambda acc, o: acc
        + F.when((o["cn"] + o["rn"]) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    sum_p = F.aggregate(
        F.col("_os"),
        F.lit(0.0),
        lambda acc, o: acc
        + F.coalesce(F.try_divide(o["m"], o["cn"]), F.lit(0.0)),
    )
    sum_r = F.aggregate(
        F.col("_os"),
        F.lit(0.0),
        lambda acc, o: acc
        + F.coalesce(F.try_divide(o["m"], o["rn"]), F.lit(0.0)),
    )
    b2 = float(beta) * float(beta)
    out = pairs.select(id_col).join(
        folded.select(
            id_col,
            eff.alias("eff_orders"),
            F.try_divide(sum_p, eff.cast("double")).alias("_p"),
            F.try_divide(sum_r, eff.cast("double")).alias("_r"),
        ),
        id_col,
        "left",
    )
    p = F.coalesce(F.col("_p"), F.lit(0.0))
    r = F.coalesce(F.col("_r"), F.lit(0.0))
    score = F.when(
        (p + r) == 0, F.lit(0.0)
    ).otherwise(
        F.round(
            F.lit(1.0 + b2) * p * r / (F.lit(b2) * p + r), 6
        )
    )
    return out.select(
        id_col,
        F.coalesce(F.col("eff_orders"), F.lit(0)).alias("eff_orders"),
        F.round(p, 6).alias("chrf_p"),
        F.round(r, 6).alias("chrf_r"),
        score.alias("chrf"),
    )


# --- RAKE keyword extraction -------------------------------------------------

# RAKE's own stopword list (Rose et al. 2010 use a larger SMART list;
# this is a compact public English core — the operator takes any list).
RAKE_STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
    "from", "has", "have", "in", "is", "it", "its", "of", "on", "or",
    "that", "the", "this", "to", "was", "were", "will", "with", "not",
    "they", "them", "their", "he", "she", "we", "you", "i", "all",
    "can", "do", "if", "so", "no", "up", "out",
]


def rake_phrases(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Candidate keyword phrases per RAKE (Rose et al. 2010): maximal
    runs of content words between stopwords / punctuation / digits.

    Pinned pipeline (each step one regexp, replayable in DuckDB with
    the 'g' flag): lowercase → non-letter runs become a ``|`` phrase
    break → whitespace collapsed to single spaces → whole-word
    stopwords become ``|`` → split on ``|``, trim, drop empties.
    Output: (id, pidx, phrase, words array, n_words) — one row per
    phrase OCCURRENCE (pidx = position, so duplicate phrases within a
    doc stay distinct for the degree statistics)."""
    stops = stopwords if stopwords is not None else RAKE_STOPWORDS
    bad = [w for w in stops if not w.isalpha()]
    if bad:
        raise ValueError(f"stopwords must be alphabetic words, got {bad}")
    alt = "|".join(sorted(stops))
    s = F.lower(F.col(text_col))
    s = F.regexp_replace(s, r"[^a-z\s]+", " | ")
    s = F.regexp_replace(s, r"\s+", " ")
    s = F.regexp_replace(s, rf"\b({alt})\b", "|")
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(s, r"\|")).alias("pidx", "_raw"),
        )
        .select("id", "pidx", F.trim("_raw").alias("phrase"))
        .filter(F.col("phrase") != "")
        .withColumn(
            "words", F.filter(F.split("phrase", " "), lambda w: w != "")
        )
        .withColumn("n_words", F.size("words"))
    )


def rake_keywords(
    df: DataFrame,
    k: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
    min_freq: int = 1,
) -> DataFrame:
    """Corpus-level RAKE keywords: word score = deg/freq where freq
    counts word occurrences across phrases and deg sums the length of
    every phrase the occurrence sits in (co-occurrence degree incl.
    self); phrase score = Σ word scores (with multiplicity); top-k
    distinct phrases by (score6 DESC, phrase). Scores are rounded to
    6dp before ranking (phrase sums are ≤ tens of float adds — error
    orders below the grain), so the ranking replays exactly in DuckDB.

    Scale: phrases explode to words once (corpus-token-sized), word
    stats are ONE aggregate, the score join is vocabulary-sized
    against phrase words (AQE-broadcast when small), and the top-k is
    a TakeOrdered — no global sort, no UDFs, no driver loops.
    Output: (phrase, score6, n_words, freq, pos)."""
    ph = rake_phrases(df, text_col, id_col, stopwords)
    w = ph.select(
        "id", "pidx", "phrase", "n_words", F.explode("words").alias("word")
    )
    wstats = w.groupBy("word").agg(
        F.count(F.lit(1)).alias("_wfreq"),
        F.sum("n_words").alias("_wdeg"),
    )
    wscore = wstats.select(
        "word", (F.col("_wdeg") / F.col("_wfreq")).alias("_wscore")
    )
    pscore = (
        w.join(wscore, "word")
        .groupBy("id", "pidx", "phrase", "n_words")
        .agg(F.round(F.sum("_wscore"), 6).alias("_pscore6"))
    )
    corpus = (
        pscore.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.max("_pscore6").alias("score6"),
            F.max("n_words").alias("n_words"),
        )
        .filter(F.col("freq") >= min_freq)
    )
    from pyspark.sql import Window

    top = corpus.orderBy(F.desc("score6"), "phrase").limit(k)
    return top.withColumn(
        "pos",
        F.row_number().over(Window.orderBy(F.desc("score6"), F.col("phrase"))),
    ).select("phrase", "score6", "n_words", "freq", "pos")


# --- TextRank keyword extraction ---------------------------------------------


def textrank_keywords(
    df: DataFrame,
    k: int = 15,
    text_col: str = "text",
    window: int = 2,
    iterations: int = 10,
    damping: float = 0.85,
    stopwords: list[str] | None = None,
    weighted: bool = False,
) -> DataFrame:
    """TextRank keywords (Mihalcea & Tarau 2004): PageRank over the
    word co-occurrence graph — the graph-centrality counterpart of
    :func:`rake_keywords`'s frequency heuristic, built by COMPOSING
    ``operators/graph.py::pagerank`` with the text layer.

    Pinned semantics (replayable in DuckDB via the shared
    ``pagerank_oracle_ctes``): tokens = ``[a-z]{2,}`` runs of
    lower(text) with stopwords removed; undirected unweighted edges
    between tokens at distance 1..window in the FILTERED sequence,
    self-loops dropped, deduplicated corpus-wide; words become 52-bit
    md5 node ids ('tr|' seed — the repo's portable-hash idiom), ranked
    by the pinned power iteration, joined back to their words, top-k
    by (rank6 DESC, word).

    Scale: edge construction is MAP-SIDE ONLY — per-doc array
    slice+zip (no positional self-join, no shuffle until the edge
    distinct); the graph is vocabulary²-bounded but co-occurrence-
    sparse (|E| ≤ corpus tokens × window); each PageRank iteration
    shuffles |E| rows. Output: (word, rank6, pos)."""
    from privacy_cdc_lakehouse_spark.operators.graph import pagerank

    stops = stopwords if stopwords is not None else RAKE_STOPWORDS
    toks_col = F.filter(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]{2,}"), 0),
        lambda w: ~w.isin(*stops),
    )
    tok_docs = df.select(toks_col.alias("toks"))
    pairs = None
    for d in range(1, window + 1):
        n_pairs = F.greatest(F.size("toks") - d, F.lit(0))
        zipped = F.zip_with(
            F.slice(F.col("toks"), 1, n_pairs),
            # slice() errors on length 0 starts — guard start at 1
            F.slice(F.col("toks"), d + 1, n_pairs),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        )
        p = (
            tok_docs.select(F.explode(zipped).alias("pr"))
            .select("pr.w1", "pr.w2")
            .filter(F.col("w1") != F.col("w2"))
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    both = pairs.unionByName(
        pairs.select(F.col("w2").alias("w1"), F.col("w1").alias("w2"))
    )
    # weighted = the paper's actual formulation (co-occurrence counts
    # as edge weights, Mihalcea & Tarau §4.1); unweighted (default,
    # the hash-checked arm's pinned form) collapses multiplicities
    if weighted:
        und = both.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_cw"))
    else:
        und = both.distinct()

    def _word_hash(c: Column) -> Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit("tr|"), c)), 1, 13), 16, 10
        ).cast("long")

    edges = und.select(
        _word_hash(F.col("w1")).alias("src"),
        _word_hash(F.col("w2")).alias("dst"),
        *([F.col("_cw")] if weighted else []),
    )
    words_map = (
        und.select(F.col("w1").alias("word"))
        .distinct()
        .select("word", _word_hash(F.col("word")).alias("node"))
    )
    ranks = pagerank(
        edges,
        iterations=iterations,
        damping=damping,
        weight="_cw" if weighted else None,
    )
    scored = ranks.join(words_map, "node").select(
        "word", F.round("rank", 6).alias("rank6")
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("rank6"), "word").limit(k)
    return top.withColumn(
        "pos",
        F.row_number().over(Window.orderBy(F.desc("rank6"), F.col("word"))),
    ).select("word", "rank6", "pos")


# --- readability ---------------------------------------------------------------


def with_readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch-Kincaid grade level (Kincaid et al. 1975) — the classic
    readability quality signal: 0.39·(words/sentences) +
    11.8·(syllables/word) − 15.59, with the standard heuristics
    pinned for cross-engine replay: sentences = runs of ``[.!?]``
    (floor 1), syllables per word = vowel-group count
    (``[aeiouy]+`` on the lowercased word, floor 1). All array/regexp
    arithmetic — no UDF, no extra scan. Appends (n_sentences,
    n_syllables, fk_grade 6dp)."""
    c = F.col(text_col)
    ws = words(c)
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    syll = F.aggregate(
        ws,
        F.lit(0),
        lambda acc, w: acc
        + F.greatest(
            F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), 0)),
            F.lit(1),
        ),
    )
    n_words = F.greatest(F.size(ws), F.lit(1))
    return (
        df.withColumn("n_sentences", n_sent.cast("long"))
        .withColumn("n_syllables", syll.cast("long"))
        .withColumn(
            "fk_grade",
            F.round(
                F.lit(0.39) * (n_words / n_sent)
                + F.lit(11.8) * (F.col("n_syllables") / n_words)
                - F.lit(15.59),
                6,
            ),
        )
    )


# --- feature hashing -----------------------------------------------------------


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 4096,
    signed: bool = True,
) -> DataFrame:
    """Hashing-trick bag-of-words (Weinberger et al. 2009): each token
    maps to bucket ``md5('fh|'||w) % dim`` — NO vocabulary table, so
    featurization is one map-side pass + one (id, bucket) aggregate at
    any corpus size (the vocabulary join the NB path needs simply
    doesn't exist here). ``signed=True`` applies the collision-
    debiasing sign hash (±1 from an independent md5 bit), the variant
    with unbiased inner products. Output: (id, idx array<int>
    ascending, val array<double>) — a sparse vector per doc; dot
    products via ``F.zip_with`` over matched indices or a dense
    scatter. Portable md5 arithmetic — deterministic across engines,
    partitionings and runs."""
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    ws = words(F.lower(F.col(text_col)))
    tok = df.select(F.col(id_col).alias("id"), F.explode(ws).alias("w"))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("fh|"), F.col("w"))), 1, 13), 16, 10
    ).cast("long")
    if signed:
        bit = (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("fhs|"), F.col("w"))), 1, 1),
                16,
                10,
            ).cast("int")
            % 2
        )
        sign = F.when(bit == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    else:
        sign = F.lit(1.0)
    feat = (
        tok.select("id", (h % dim).cast("int").alias("idx"), sign.alias("s"))
        .groupBy("id", "idx")
        .agg(F.sum("s").alias("val"))
        .filter(F.col("val") != 0.0)  # signed collisions may cancel
    )
    return (
        feat.groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("idx", "val"))
            ).alias("_iv")
        )
        .select(
            F.col("id").alias(id_col),
            F.transform("_iv", lambda s: s["idx"]).alias("idx"),
            F.transform("_iv", lambda s: s["val"]).alias("val"),
        )
    )
