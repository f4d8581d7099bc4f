"""Operator unit behavior: text features, dedup primitives, similarity."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from privacy_cdc_lakehouse_spark.operators import dedup as dd
from privacy_cdc_lakehouse_spark.operators import multimodal as mm
from privacy_cdc_lakehouse_spark.operators import similarity as sim
from privacy_cdc_lakehouse_spark.operators import text as tx


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_stats_and_tokens(spark):
    df = tx.with_text_stats(_docs(spark, [(1, "the quick brown fox!! 42")]))
    r = df.collect()[0]
    assert r["n_words"] == 5
    assert r["n_tokens"] == 7  # the,quick,brown,fox,!,!,42
    assert r["stopword_ratio"] == 0.2  # 'the' of 5 words


def test_lang_id_predicts_and_falls_back(spark):
    df = tx.with_lang_id(
        _docs(spark, [(1, "the cat and the dog is here"), (2, "zzz qqq xxx")])
    )
    got = {r["doc_id"]: r["lang_pred"] for r in df.collect()}
    assert got[1] == "en"
    assert got[2] == "und"


def test_exact_duplicates_normalizes_whitespace_case(spark):
    groups = dd.exact_duplicates(
        _docs(spark, [(1, "Hello  World"), (2, "hello world"), (3, "other")])
    ).collect()
    assert len(groups) == 1
    assert groups[0]["keeper_id"] == 1
    assert groups[0]["group_size"] == 2


def test_minhash_identical_docs_always_collide(spark):
    df = _docs(spark, [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w v u t")])
    pairs = dd.minhash_lsh_pairs(df).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_jaccard_exact(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "a b c e")])
    cands = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = dd.ngram_jaccard_pairs(df, cands, threshold=0.0).collect()[0]
    # shingles(3): {abc,bcd} vs {abc,bce} → jaccard 1/3
    assert abs(got["jaccard"] - 1 / 3) < 1e-12


def test_brute_force_topk_self_is_nearest(spark):
    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.brute_force_topk(emb, queries, k=2).collect()
    assert out[0]["neighbor_id"] == 0 and abs(out[0]["cos_sim"] - 1.0) < 1e-12
    assert out[1]["cos_sim"] == 0.0


def test_simhash_similar_docs_close(spark):
    df = _docs(
        spark,
        [
            (1, "spark table join shuffle agg window"),
            (2, "spark table join shuffle agg windows"),
            (3, "completely different words entirely here now"),
        ],
    )
    sigs = {r["doc_id"]: r["simhash"] for r in dd.simhash(df).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])


def test_multimodal_stub_decode(spark):
    docs = _docs(spark, [(1, "abc"), (2, "")])
    feats = {
        r["doc_id"]: r
        for r in mm.decode_binary_features(mm.documents_as_binary(docs)).collect()
    }
    assert feats[1]["n_bytes"] == 3
    assert feats[1]["first_byte"] == ord("a")
    assert feats[1]["checksum_mod"] == (ord("a") + ord("b") + ord("c")) % 251
    assert feats[2]["first_byte"] == -1


def test_resize_binary_exact_bytes(spark):
    from privacy_cdc_lakehouse_spark.operators import multimodal as mm

    rows = [(1, bytes(range(10))), (2, b"ab"), (3, b"")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (bytes(r["payload"]), r["out_bytes"])
        for r in mm.resize_binary(df, width=2, height=2).collect()
    }
    # n=10 -> m=4, indices i*10//4 = 0,2,5,7
    assert got[1] == (bytes([0, 2, 5, 7]), 4)
    assert got[2] == (b"ab", 2)   # already smaller than target
    assert got[3] == (b"", 0)


def test_frame_sample_chunking(spark):
    from privacy_cdc_lakehouse_spark.operators import multimodal as mm

    payload = bytes(range(10))  # frame_bytes=3 -> chunks [0:3][3:6][6:9][9:10]
    df = spark.createDataFrame(
        [(1, payload), (2, b"")], "doc_id long, payload binary"
    )
    out = mm.frame_sample(
        df, frame_bytes=3, every_n=2, max_frames=4
    ).collect()
    got = {(r["doc_id"], r["frame_idx"]): bytes(r["frame"]) for r in out}
    # sampled chunk indices: 0, 2 (every 2nd of 4 chunks)
    assert got == {(1, 0): bytes([0, 1, 2]), (1, 2): bytes([6, 7, 8])}

    capped = mm.frame_sample(df, frame_bytes=1, every_n=1, max_frames=3).collect()
    assert sorted(r["frame_idx"] for r in capped if r["doc_id"] == 1) == [0, 1, 2]


def test_connected_components_min_label(spark):
    """Transitive closure over pairs: chains collapse to min-id
    components even when endpoints never collided directly."""
    from privacy_cdc_lakehouse_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # component {1,2,3,4} as a chain; {10,11}; {20,21,22} as a star
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_reliable_checkpoint_dir(spark, tmp_path):
    """The 100 TB fault-tolerance path: with
    spark.graft.reliableIntermediates=true plus a checkpoint directory,
    the CC loop, pinned k-core peeling (lazy) and fixpoint k-core and
    k-truss peeling (eager, convergence observed by the checkpoint
    job) use reliable checkpoint() snapshots that survive executor
    loss — same rows as the local default, and the snapshots land in
    the directory."""
    from privacy_cdc_lakehouse_spark.operators import graph as G
    from privacy_cdc_lakehouse_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )

    loops = {
        "cc": lambda: connected_components(pairs),
        "k_core": lambda: G.k_core(edges, 2, rounds=1),
        "k_core_fixpoint": lambda: G.k_core(edges, 2),
        "k_truss_fixpoint": lambda: G.k_truss(edges, 3),
    }
    local = {k: sorted(tuple(r) for r in f().collect()) for k, f in loops.items()}
    assert dict(local["cc"]) == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    import os

    spark.conf.set("spark.graft.reliableIntermediates", "true")
    try:
        for k, f in loops.items():
            ckpt = str(tmp_path / f"{k}_ckpt")
            spark.sparkContext.setCheckpointDir(ckpt)
            assert sorted(tuple(r) for r in f().collect()) == local[k]
            files = [
                os.path.join(dp, name)
                for dp, _, fs in os.walk(ckpt)
                for name in fs
            ]
            assert files, f"{k}: checkpoint dir is empty — checkpoint() not used"
    finally:
        spark.conf.unset("spark.graft.reliableIntermediates")


def test_near_dup_keepers_on_augmented_corpus(spark, sf_dir):
    """End-to-end dedup decision over the augmented corpus: every
    near-dup component keeps exactly one doc (its min id), and the
    keeper count equals total docs minus redundant members."""
    from privacy_cdc_lakehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_keepers,
        ngram_jaccard_pairs,
    )
    from privacy_cdc_lakehouse_spark.queries.llmops import _augmented, _docs

    corpus = _augmented(_docs(spark, sf_dir))
    verified = ngram_jaccard_pairs(
        corpus, minhash_lsh_pairs(corpus), threshold=0.5
    ).select("id_a", "id_b")
    decisions = near_dup_keepers(corpus, verified)

    rows = decisions.collect()
    n_docs = corpus.count()
    assert len(rows) == n_docs
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        keepers = [m for m in members if m["is_keeper"]]
        assert len(keepers) == 1 and keepers[0]["doc_id"] == comp
        assert comp == min(m["doc_id"] for m in members)
    # the known-positive pairs (id, id+1_000_000 exact copies) share a
    # component, so at least those copies are dropped
    dropped = {r["doc_id"] for r in rows if not r["is_keeper"]}
    exact_copies = {
        r["doc_id"] for r in corpus.filter("doc_id >= 1000000 AND doc_id < 2000000").collect()
    }
    assert exact_copies <= dropped


def test_pii_redaction(spark):
    """Emails/phones/IPv4 are replaced with typed tokens; counts match;
    clean text passes through untouched."""
    from privacy_cdc_lakehouse_spark.operators.text import with_pii_redaction

    df = spark.createDataFrame(
        [
            (1, "contact alice.smith+x@example.co.uk or call +44 (0)20 7946-0958 now"),
            (2, "server at 10.0.42.7 responded"),
            (3, "no pii here, just words"),
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in with_pii_redaction(df).collect()}
    assert "[REDACTED:email]" in rows[1]["text_redacted"]
    assert "[REDACTED:phone]" in rows[1]["text_redacted"]
    assert "alice" not in rows[1]["text_redacted"]
    assert rows[1]["pii_counts"]["email"] == 1
    assert rows[1]["pii_counts"]["phone"] == 1
    assert rows[2]["text_redacted"] == "server at [REDACTED:ipv4] responded"
    assert rows[2]["pii_counts"]["ipv4"] == 1
    assert rows[3]["text_redacted"] == rows[3]["text"]
    assert tuple(rows[3]["pii_counts"]) == (0, 0, 0)


# ----------------------------- curation --------------------------------------


def test_hash_split_assignment_matches_bucket_ranges(spark):
    """Every row's split label is exactly the bucket-range rule:
    bucket<900 → train, <950 → val, else test (90/5/5 resolved to
    whole buckets)."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    out = cur.hash_split(df, id_col="doc_id", train=0.9, val=0.05).select(
        "doc_id", cur.split_bucket(F.col("doc_id")).alias("bucket"), "split"
    )
    for r in out.collect():
        expect = "train" if r["bucket"] < 900 else ("val" if r["bucket"] < 950 else "test")
        assert r["split"] == expect, r
    # all three splits realized on 2000 ids, fractions near 90/5/5
    n = out.groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in n}
    assert set(counts) == {"train", "val", "test"}
    assert 0.85 <= counts["train"] / 2000 <= 0.95


def test_hash_split_stable_under_corpus_growth(spark):
    """A doc's split never changes when the corpus grows — the
    incremental-ingest reproducibility contract (assignment is a pure
    per-row function of the id)."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    small = spark.range(100).select(F.col("id").alias("doc_id"))
    big = spark.range(10_000).select(F.col("id").alias("doc_id"))
    s = {r["doc_id"]: r["split"] for r in cur.hash_split(small, id_col="doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in cur.hash_split(big, id_col="doc_id").collect()}
    assert all(b[k] == v for k, v in s.items())


def test_ngram_contamination_constructed_overlap(spark):
    """Known-overlap fixture: doc 1 IS the benchmark (all grams hit),
    doc 2 shares exactly one 3-gram, doc 3 shares none (zero-filled)."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta"),        # grams: abg, bgd
            (2, "alpha beta gamma zeta eta"),     # shares 'alpha beta gamma'
            (3, "one two three four"),            # disjoint
        ],
    )
    bench = corpus.filter(F.col("doc_id") == 1)
    got = {
        r["doc_id"]: r["n_contam_grams"]
        for r in cur.ngram_contamination(corpus, bench, n=3).collect()
    }
    assert got == {1: 2, 2: 1, 3: 0}


def test_ngram_contamination_pre_exploded_grams_equivalent(spark):
    """The corpus_grams reuse hook (one explode shared across benchmark
    sets) returns the identical result as the self-exploding path."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    corpus = _docs(
        spark,
        [(i, f"w{i} common words here and w{i+1} tail") for i in range(1, 8)],
    )
    bench = corpus.filter(F.col("doc_id") % 3 == 0)
    grams = cur.corpus_ngrams(corpus, n=3)
    direct = sorted(map(tuple, cur.ngram_contamination(corpus, bench, n=3).collect()))
    hooked = sorted(
        map(
            tuple,
            cur.ngram_contamination(corpus, bench, n=3, corpus_grams=grams).collect(),
        )
    )
    assert direct == hooked and any(n > 0 for _, n in direct)


def test_lsh_topk_prebuilt_index_equivalent(spark, sf_dir, tmp_path):
    """The write-once ANN index path: lsh_topk over an lsh_index that
    was persisted to parquet and read back returns the identical
    ranking as the self-bucketing path (the 100 TB amortization
    contract — bucketing is a pure function of the corpus)."""
    from privacy_cdc_lakehouse_spark.sources.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    direct = sorted(
        map(tuple, sim.lsh_topk(emb, queries, k=5, planes=4, tables=4).collect())
    )

    idx_path = str(tmp_path / "lsh_index.parquet")
    sim.lsh_index(emb, planes=4, tables=4).write.parquet(idx_path)
    indexed = sorted(
        map(
            tuple,
            sim.lsh_topk(
                emb,
                queries,
                k=5,
                planes=4,
                tables=4,
                corpus_index=spark.read.parquet(idx_path),
            ).collect(),
        )
    )
    assert direct == indexed and len(direct) > 0


def test_hash_split_rejects_bad_fractions(spark):
    import pytest

    from privacy_cdc_lakehouse_spark.operators import curation as cur

    df = spark.range(5).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        cur.hash_split(df, id_col="doc_id", train=0.8, val=0.3)
    with pytest.raises(ValueError):
        cur.hash_split(df, id_col="doc_id", train=-0.1, val=0.5)


def test_minhash_lsh_pairs_precomputed_signatures_equivalent(spark, tmp_path):
    """Write-once signature reuse: minhash_lsh_pairs over signatures
    persisted to parquet and read back returns the identical candidate
    set as the self-computing path."""
    docs = _docs(
        spark,
        [(1, "a b c d e f g"), (2, "a b c d e f g"), (3, "x y z w v u t"),
         (4, "a b c d e f h"), (5, "p q r s t u v")],
    )
    direct = sorted(map(tuple, dd.minhash_lsh_pairs(docs).collect()))

    sig_path = str(tmp_path / "minhash_sigs.parquet")
    dd.minhash_signatures(docs).write.parquet(sig_path)
    reused = sorted(
        map(
            tuple,
            dd.minhash_lsh_pairs(
                docs, signatures=spark.read.parquet(sig_path)
            ).collect(),
        )
    )
    assert direct == reused and len(direct) > 0


def test_curate_corpus_stage_semantics(spark):
    """Constructed fixture hitting every stage: low-quality dropped,
    exact dup dropped (keeper = min id), benchmark-contaminated
    dropped, survivor gets a split label and rounded score."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    good = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "rests under a tree while the dog watches the quiet road"
    )
    corpus = _docs(
        spark,
        [
            (1, good),                          # survivor
            (2, good),                          # exact dup of 1 -> dropped
            (3, "zz qq ww"),                    # low quality -> dropped
            (4, "contaminated secret benchmark passage appears here with "
                "the usual words around it and some more filler text to "
                "pass the quality floor of the scorer"),
        ],
    )
    bench = _docs(spark, [(99, "contaminated secret benchmark passage")])
    out = {r["doc_id"]: r for r in cur.curate_corpus(corpus, bench, n=3).collect()}
    assert set(out) == {1}
    assert out[1]["split"] in ("train", "val", "test")
    assert 0.7 <= out[1]["quality_score"] <= 1.0


def test_pii_counts_follow_redaction_chain(spark):
    """An IPv4 inside the text also matches the phone shape; the audit
    counts must mirror the ordered redaction chain (email→ipv4→phone),
    so the quad is counted ONCE as ipv4 and never as a phantom phone."""
    df = spark.createDataFrame(
        [(1, "host 192.168.10.1 is up, call +44 20 7946 0958 now")],
        "doc_id int, text string",
    )
    row = tx.with_pii_redaction(df).collect()[0]
    assert row["pii_counts"]["ipv4"] == 1
    assert row["pii_counts"]["phone"] == 1  # the real phone only
    assert row["text_redacted"].count("[REDACTED:ipv4]") == 1
    assert row["text_redacted"].count("[REDACTED:phone]") == 1


def test_corpus_grams_n_mismatch_raises(spark):
    """A corpus_ngrams artifact built with a different n must fail
    loudly — a silent empty join would report zero contamination."""
    import pytest

    from privacy_cdc_lakehouse_spark.operators import curation as cur

    docs = _docs(spark, [(1, "one two three four five six seven eight nine")])
    grams8 = cur.corpus_ngrams(docs, n=8)
    with pytest.raises(Exception) as ei:
        cur.ngram_contamination(docs, docs, n=3, corpus_grams=grams8).collect()
    assert "corpus_ngrams artifact" in str(ei.value)
    # and an un-stamped frame is rejected outright
    with pytest.raises(ValueError, match="_n stamp"):
        cur.ngram_contamination(
            docs, docs, n=3, corpus_grams=grams8.select("doc_id", "g")
        )


def test_connected_components_raises_when_unconverged(spark):
    """A chain longer than the iteration budget must raise — silently
    returning partial labels would let duplicates survive keeper
    election."""
    import pytest

    def chain(n):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long"
        )

    # round budgets pinned at their measured minimum: compression halves
    # label paths, and the round that changes nothing ends the loop
    for n, enough in ((10, 4), (30, 5)):
        with pytest.raises(RuntimeError, match="did not converge"):
            dd.connected_components(chain(n), max_iters=enough - 1)
        out = dd.connected_components(chain(n), max_iters=enough)
        assert set(r["component"] for r in out.collect()) == {0}
    # no label can change: the first round already is the fixpoint
    selfs = spark.createDataFrame([(5, 5), (7, 7)], "id_a long, id_b long")
    out = dd.connected_components(selfs, max_iters=1)
    assert sorted(tuple(r) for r in out.collect()) == [(5, 5), (7, 7)]


def test_connected_components_union_find_parity(spark):
    """Path-compression parity against an independent union-find
    reference (round 15: pointer jumping made label paths halve per
    round; the FIXPOINT — every node labeled with its component's min
    id — must be unchanged). Random graph plus a 30-deep chain so the
    compressed loop's O(log d) convergence is actually exercised."""
    import random

    rnd = random.Random(11)
    edges = sorted({
        (rnd.randrange(40), rnd.randrange(40)) for _ in range(35)
    })
    edges = [(a, b) for a, b in edges if a != b]
    edges += [(100 + i, 100 + i + 1) for i in range(30)]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in dd.connected_components(pairs).collect()
    }
    assert got == want


def test_repetition_stats_gopher_signals(spark):
    from privacy_cdc_lakehouse_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # heavy word + 2-gram repetition
            (2, "x y z w q r"),        # none
            (3, "l1\nl2\nl1\nl1"),     # duplicate lines
            (4, "solo"),               # 1 word: no 2-grams
            (5, ""),                   # empty: all zeros, no div-by-0
        ],
        "doc_id int, text string",
    )
    rows = {
        r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()
    }
    assert rows[1]["dup_word_frac"] == pytest.approx(4 / 6)
    assert rows[1]["dup_2gram_frac"] == pytest.approx(3 / 5)
    # "a b" x3, len 3 chars, text len 11
    assert rows[1]["top_2gram_char_frac"] == pytest.approx(9 / 11)
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["dup_2gram_frac"] == 0.0
    assert rows[3]["dup_line_frac"] == pytest.approx(0.5)   # l1 x3 + l2: 2 extra / 4
    assert rows[3]["dup_line_char_frac"] == pytest.approx(6 / 8)
    assert rows[4]["top_2gram_char_frac"] == 0.0
    assert all(v == 0.0 for k, v in rows[5].items() if k != "doc_id")


def test_repetition_stats_custom_line_sep(spark):
    from privacy_cdc_lakehouse_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "s1.s2.s1.s1")], "doc_id int, text string"
    )
    r = repetition_stats(df, line_sep=".").collect()[0]
    assert r["dup_line_frac"] == pytest.approx(0.5)
    assert r["dup_line_char_frac"] == pytest.approx(6 / 8)


def test_ivf_model_artifact_equivalence(spark, tmp_path):
    import random

    rng = random.Random(7)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(3)],
        "query_id long, embedding array<double>",
    )
    direct = sim.ivf_topk(corpus, queries, k=5, n_clusters=4, iters=1)
    model = sim.ivf_model(corpus, n_clusters=4, iters=1)
    # parquet round-trip: the artifact is a write-once table
    path = str(tmp_path / "ivf_model")
    model.write.parquet(path)
    loaded = spark.read.parquet(path)
    via_model = sim.ivf_topk(
        corpus, queries, k=5, n_clusters=4, iters=1, model=loaded
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, via_model.collect())
    )


def test_ivf_model_stamp_guard(spark):
    import pytest

    corpus = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 2.0])], "query_id long, embedding array<double>"
    )
    model = sim.ivf_model(corpus, n_clusters=2, iters=1)
    with pytest.raises(ValueError, match="does not match"):
        sim.ivf_topk(
            corpus, queries, n_clusters=2, iters=2, model=model
        )
    with pytest.raises(ValueError, match="lacks columns"):
        sim.ivf_topk(
            corpus, queries, n_clusters=2, iters=1,
            model=model.drop("_k"),
        )


def test_pack_sequences_concat_and_chunk(spark):
    from privacy_cdc_lakehouse_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "e f g"), (3, ""), (4, "h i j k l m n o p q")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in pack_sequences(df, tokens_per_pack=5, n_shards=1).collect()
    }
    assert rows[1]["start_offset"] == 0 and rows[1]["n_packs_spanned"] == 1
    # doc 2: tokens 4..6 straddle packs 0 and 1
    assert rows[2]["pack"] == 0 and rows[2]["offset_in_pack"] == 4
    assert rows[2]["n_packs_spanned"] == 2
    # empty doc: occupies no pack
    assert rows[3]["n_tokens"] == 0 and rows[3]["n_packs_spanned"] == 0
    # doc 4: tokens 7..16 -> packs 1..3
    assert rows[4]["pack"] == 1 and rows[4]["n_packs_spanned"] == 3

    # precomputed token counts (the write-once path) give identical packing
    import pyspark.sql.functions as F
    from privacy_cdc_lakehouse_spark.operators.text import token_count

    pre = df.withColumn("n_tok", token_count(F.col("text")))
    a = sorted(map(tuple, pack_sequences(df, 5, 1).collect()))
    b = sorted(
        map(
            tuple,
            pack_sequences(pre, 5, 1, token_col="n_tok").collect(),
        )
    )
    assert a == b


def test_pack_sequences_stable_under_input_partitioning(spark):
    from privacy_cdc_lakehouse_spark.operators.curation import pack_sequences

    rows = [(i, "w " * (i % 17 + 1)) for i in range(200)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    df32 = spark.createDataFrame(rows, "doc_id long, text string").repartition(32)
    a = sorted(map(tuple, pack_sequences(df1, 64, 8).collect()))
    b = sorted(map(tuple, pack_sequences(df32, 64, 8).collect()))
    assert a == b

    import pytest

    with pytest.raises(ValueError):
        pack_sequences(df1, 0, 8)


def test_mixture_sample_deterministic_and_rate_bound(spark):
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    rows = [(i, ["en", "de", "zh"][i % 3]) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = cur.mixture_sample(
        df, {"en": 1.0, "de": 0.5}, strata_col="lang", default_rate=0.0
    )
    got = {r["doc_id"]: r["lang"] for r in out.collect()}
    langs = set(got.values())
    # rate 1.0 keeps everything, 0.0 drops everything
    assert sum(1 for v in got.values() if v == "en") == 200
    assert "zh" not in langs
    # de lands near 50% (hash-uniform; wide tolerance)
    n_de = sum(1 for v in got.values() if v == "de")
    assert 60 <= n_de <= 140
    # deterministic: rerun yields the identical id set
    again = {r["doc_id"] for r in out.collect()}
    assert again == set(got)
    # stable under corpus growth: a doc's fate doesn't change when new
    # rows arrive (pure function of id)
    bigger = spark.createDataFrame(
        rows + [(10_000 + i, "de") for i in range(100)],
        "doc_id long, lang string",
    )
    sub = {
        r["doc_id"]
        for r in cur.mixture_sample(
            bigger, {"en": 1.0, "de": 0.5}, strata_col="lang"
        ).collect()
        if r["doc_id"] < 10_000
    }
    assert sub == set(got)

    import pytest

    with pytest.raises(ValueError):
        cur.mixture_sample(df, {"en": 1.5})
    with pytest.raises(ValueError):
        cur.mixture_sample(df, {"en": 0.5}, default_rate=-0.1)


def test_tfidf_top_terms_ranking(spark):
    df = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "cherry cherry cherry common"),
        ],
        "doc_id long, text string",
    )
    out = tx.tfidf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 'common' appears in all 3 docs -> idf = ln(1) = 0 -> never top
    # (ranked below any term with positive idf; ties by term asc)
    top1 = {d: rows[0]["term"] for d, rows in by_doc.items()}
    assert top1 == {1: "apple", 2: "banana", 3: "cherry"}
    r1 = by_doc[1][0]
    assert r1["tf"] == 2 and r1["df"] == 1
    assert r1["tfidf6"] == round(2 * math.log(3.0 / 1.0), 6)
    # every doc gets exactly k rows (vocab per doc >= 2 here)
    assert all(len(rows) == 2 for rows in by_doc.values())
    assert [r["rank"] for r in by_doc[2]] == [1, 2]


def test_chunk_documents_coverage_and_overlap(spark):
    df = _docs(
        spark,
        [(1, "abcdefghij"), (2, "ab"), (3, ""), (4, "abcdefgh")],
    )
    out = tx.chunk_documents(df, chunk_chars=4, overlap=1)
    by_doc = {}
    for r in sorted(out.collect(), key=lambda r: (r["doc_id"], r["chunk_id"])):
        by_doc.setdefault(r["doc_id"], []).append(r["chunk_text"])
    # stride 3: doc 1 (10 chars) -> ceil((10-1)/3)=3 chunks
    assert by_doc[1] == ["abcd", "defg", "ghij"]
    # short doc -> one short chunk
    assert by_doc[2] == ["ab"]
    # empty doc -> no chunks
    assert 3 not in by_doc
    # exact multiple: 8 chars -> ceil(7/3)=3 chunks, last is short
    assert by_doc[4] == ["abcd", "defg", "gh"]
    # reconstruction: drop the overlap from every chunk after the first
    for doc_id, chunks in by_doc.items():
        rebuilt = chunks[0] + "".join(c[1:] for c in chunks[1:])
        original = {1: "abcdefghij", 2: "ab", 4: "abcdefgh"}[doc_id]
        assert rebuilt == original

    import pytest

    with pytest.raises(ValueError):
        tx.chunk_documents(df, chunk_chars=4, overlap=4)
    with pytest.raises(ValueError):
        tx.chunk_documents(df, chunk_chars=0, overlap=0)


def test_collocations_pmi_ranking(spark):
    # "san francisco" always co-occurs; "the" is everywhere -> low PMI
    rows = [(i, "the city of san francisco is the place") for i in range(5)]
    rows += [(100 + i, "the weather in san francisco the fog") for i in range(5)]
    df = _docs(spark, rows)
    out = tx.collocations(df, k=20, min_count=5).collect()
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    top = {(r["w1"], r["w2"]): r for r in out}
    r = top[("san", "francisco")]
    assert r["n_ab"] == 10 and r["n_w1"] == 10 and r["n_w2"] == 10
    # PMI sanity: P(ab)=10/n_bg, P(a)=P(b)=10/n_tok
    import math

    n_bg = 5 * 7 + 5 * 6  # per-doc bigram counts
    n_tok = 5 * 8 + 5 * 7
    expect = math.log((10 / n_bg) / ((10 / n_tok) * (10 / n_tok)))
    assert r["pmi6"] == round(expect, 6)
    # exclusive-pair ordering: PMI penalizes promiscuous words, so
    # every pair containing 'the' (n_the=20) ranks below pairs whose
    # words occur ONLY together ('san francisco' et al.)
    the_ranks = [r["rank"] for r in out if "the" in (r["w1"], r["w2"])]
    assert the_ranks and min(the_ranks) > r["rank"]
    # min_count floor holds, ordering is by pmi desc
    assert all(r["n_ab"] >= 5 for r in out)
    pmis = [r["pmi6"] for r in out]
    assert pmis == sorted(pmis, reverse=True)


def test_duplicate_spans_exact_substring_dedup(spark):
    shared = "one two three four five six seven eight"  # 8 words
    df = _docs(
        spark,
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"start {shared} end of text here now"),
            (3, "totally unique words with no overlap at all present"),
            # self-repetition inside ONE doc also counts
            (4, "rep "
                "a b c d e f g h "
                "x y z q w r t u "
                "a b c d e f g h"),
        ],
    )
    out = dd.duplicate_spans(df, n=8)
    spans = {}
    for r in out.collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["n_grams"])
        )
    # doc 1: shared block at word offsets 2..9 -> one 1-gram span
    assert spans[1] == [(2, 9, 1)]
    # doc 2: shared block at offsets 1..8
    assert spans[2] == [(1, 8, 1)]
    # unique doc: no spans
    assert 3 not in spans
    # doc 4: 'a..h' occurs at offsets 1..8 and 17..24 -> two spans
    assert sorted(spans[4]) == [(1, 8, 1), (17, 24, 1)]


def test_duplicate_spans_merge_overlapping_islands(spark):
    # Two duplicated 8-grams whose word spans overlap (positions 0 and
    # 3) must merge into ONE maximal span [0, 10] with n_grams=2 —
    # overlapping spans would double-count words downstream.
    a = "w0 w1 w2 w3 w4 w5 w6 w7"          # gram at pos 0 of both docs
    b = "w3 w4 w5 w6 w7 x8 x9 x10"         # gram at pos 3 of both docs
    df = _docs(
        spark,
        [
            (1, f"{a} x8 x9 x10"),          # words 0..10; grams 0 and 3 dup
            (2, f"{a} zz"),                 # repeats gram a
            (3, f"pad pad pad {b} zz"),     # repeats gram b
        ],
    )
    out = dd.duplicate_spans(df, n=8)
    spans = {}
    for r in out.collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["n_grams"])
        )
    assert spans[1] == [(0, 10, 2)]
    # non-overlap invariant: within each doc, spans never overlap
    for sp in spans.values():
        sp = sorted(sp)
        for (s1, e1, _), (s2, _, _) in zip(sp, sp[1:]):
            assert s2 > e1


def test_dataset_report_profile(spark):
    from privacy_cdc_lakehouse_spark.operators.curation import dataset_report

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (3, "der schnelle braune fuchs ist hier gerade jetzt", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    rep = {(r["kind"], r["k"]): r["v"] for r in dataset_report(df).collect()}
    assert rep[("docs", "en")] == 2.0 and rep[("docs", "de")] == 1.0
    assert rep[("tokens", "en")] == 18.0  # 9 tokens x 2 docs
    assert rep[("chars", "de")] == float(len(rows[2][1]))
    assert rep[("dup", "exact_groups")] == 1.0
    assert rep[("dup", "redundant_docs")] == 1.0
    # quality deciles cover all docs
    n_quality = sum(v for (k, _), v in rep.items() if k == "quality")
    assert n_quality == 3.0


def test_dedup_lines_boilerplate_removal(spark):
    # 'cookie banner' appears in docs 1+2 (boilerplate, min_docs=2);
    # every other line is unique and must survive IN ORDER.
    df = _docs(
        spark,
        [
            (1, "accept our cookies\nreal content one\nmore text here"),
            (2, "intro line two\naccept our cookies\nunique ending"),
            (3, "totally unique doc\nwith two lines"),
        ],
    )
    out = {r["doc_id"]: r for r in dd.dedup_lines(df, min_docs=2).collect()}
    assert out[1]["text_clean"] == "real content one\nmore text here"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 2)
    assert out[2]["text_clean"] == "intro line two\nunique ending"
    # untouched doc: clean == original, nothing removed
    assert out[3]["text_clean"] == "totally unique doc\nwith two lines"
    assert out[3]["n_lines"] == out[3]["n_kept"] == 2
    # trimming defines line identity ('  accept our cookies ' == same)
    df2 = _docs(
        spark,
        [
            (1, "  accept our cookies \nkeep me"),
            (2, "accept our cookies\nother line"),
        ],
    )
    out2 = {r["doc_id"]: r for r in dd.dedup_lines(df2, min_docs=2).collect()}
    assert out2[1]["text_clean"] == "keep me"
    # a doc losing EVERY line yields '' with n_kept=0
    df3 = _docs(spark, [(1, "only line"), (2, "only line")])
    out3 = {r["doc_id"]: r for r in dd.dedup_lines(df3, min_docs=2).collect()}
    assert out3[1]["text_clean"] == "" and out3[1]["n_kept"] == 0
    assert out3[1]["n_lines"] == 1


def test_incremental_exact_dedup_store_and_batch(spark):
    store_docs = _docs(spark, [(1, "old doc one"), (2, "old doc two")])
    store = store_docs.select(
        dd.normalized_fingerprint(F.col("text")).alias("fingerprint")
    )
    batch = _docs(
        spark,
        [
            (10, "old doc one"),        # already stored -> dropped
            (11, "Old  DOC one"),       # normalized twin -> dropped
            (12, "brand new doc"),      # fresh -> survives
            (13, "brand new doc"),      # in-batch dup -> collapses to 12
            (14, "another new doc"),    # fresh -> survives
        ],
    )
    out = dd.incremental_exact_dedup(batch, store)
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [12, 14]
    # survivors carry the canonical fingerprint (appendable to the store)
    fps = {r["doc_id"]: r["fingerprint"] for r in out.collect()}
    import hashlib

    assert fps[12] == hashlib.md5(b"brand new doc").hexdigest()
    # second cycle: append survivors, replay the SAME batch -> all dropped
    store2 = store.unionByName(out.select("fingerprint"))
    assert dd.incremental_exact_dedup(batch, store2).count() == 0


def test_remove_duplicate_spans_cuts_covered_words(spark):
    shared = "one two three four five six seven eight"  # 8 words
    df = _docs(
        spark,
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"start {shared} end of text here now"),
            (3, "totally unique words with no overlap at all present"),
        ],
    )
    spans = dd.duplicate_spans(df, n=8)
    out = {r["doc_id"]: r for r in dd.remove_duplicate_spans(df, spans).collect()}
    # doc 1: words 2..9 cut -> survivors in order
    assert out[1]["text_clean"] == "alpha beta gamma delta"
    assert (out[1]["n_words"], out[1]["n_kept"]) == (12, 4)
    # doc 2: words 1..8 cut
    assert out[2]["text_clean"] == "start end of text here now"
    # doc 3 untouched: full normalized word stream, n_kept == n_words
    assert out[3]["text_clean"] == "totally unique words with no overlap at all present"
    assert out[3]["n_kept"] == out[3]["n_words"] == 9


def test_semantic_dedup_cluster_scoped_components(spark):
    """SemDeDup: near-identical vectors land in one cell and collapse
    to a min-id component; distinct directions stay their own keepers
    even inside the same cell."""
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (0, unit(0.0)),            # seed 0
        (1, unit(1.5)),            # seed 1 (far from seed 0)
        (2, unit(0.001)),          # ~dup of 0 -> same cell, cos>0.99
        (3, unit(0.002)),          # ~dup of 0 -> chains into component 0
        (4, unit(1.2)),            # same cell as 1 but cos(0.3)~0.955 < 0.99
    ]
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = {
        r["vec_id"]: r
        for r in sim.semantic_dedup(
            emb, threshold=0.99, n_clusters=2, iters=0, vec_col="v"
        ).collect()
    }
    assert out[0]["component"] == 0 and out[0]["is_keeper"]
    assert out[2]["component"] == 0 and not out[2]["is_keeper"]
    assert out[3]["component"] == 0 and not out[3]["is_keeper"]
    # 4 shares cell 1 but is below threshold: own keeper
    assert out[4]["component"] == 4 and out[4]["is_keeper"]
    assert out[1]["component"] == 1 and out[1]["is_keeper"]
    # cells: 0,2,3 with seed 0; 1,4 with seed 1
    assert out[2]["cluster"] == out[0]["cluster"]
    assert out[4]["cluster"] == out[1]["cluster"] != out[0]["cluster"]


def test_unigram_lm_and_doc_logprob(spark):
    """Closed-form check of the perplexity-filter signal: corpus
    'a a a b' -> p(a)=3/4, p(b)=1/4; doc means follow; an UNSEEN word
    prices at the ln(1/total) floor."""
    train = _docs(spark, [(1, "a a a"), (2, "b")])
    lm = tx.unigram_lm(train)
    got = {r["w"]: (r["logp"], r["_total"]) for r in lm.collect()}
    assert got["a"][1] == 4 and abs(got["a"][0] - math.log(3 / 4)) < 1e-12
    assert abs(got["b"][0] - math.log(1 / 4)) < 1e-12
    # score a corpus with a seen-only doc and a doc with an unseen word
    score = _docs(spark, [(10, "a b"), (11, "a zzz")])
    out = {r["doc_id"]: r for r in tx.doc_logprob(score, lm).collect()}
    exp10 = round((math.log(3 / 4) + math.log(1 / 4)) / 2, 6)
    exp11 = round((math.log(3 / 4) + math.log(1 / 4)) / 2, 6)  # floor = ln(1/4)
    assert out[10]["mean_logp"] == exp10 and out[10]["n_scored"] == 2
    assert out[11]["mean_logp"] == exp11
    # case-insensitive: 'A' scores as 'a'
    up = _docs(spark, [(12, "A")])
    assert {r["mean_logp"] for r in tx.doc_logprob(up, lm).collect()} == {
        round(math.log(3 / 4), 6)
    }


def test_semantic_dedup_join_assignment_matches_literal(spark):
    """The broadcast-join argmin (large-k path) must agree with the
    literal-expression argmin bit for bit, including the lowest-id
    tie-break."""
    import random as _r

    rng = _r.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)
    ]
    rows.append((80, list(rows[0][1])))  # exact dup -> tie-break case
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    lit_out = sorted(
        tuple(r)
        for r in sim.semantic_dedup(
            emb, threshold=0.99, n_clusters=6, iters=0, vec_col="v"
        ).collect()
    )
    # force the join path by monkey-free construction: call the helper
    from privacy_cdc_lakehouse_spark.operators.similarity import (
        _assign_by_join,
        kmeans_fit,
        nearest_centroid,
    )
    from pyspark.sql import functions as F

    cents = kmeans_fit(emb, n_clusters=6, iters=0, vec_col="v")
    c = emb.select("vec_id", sim.as_double(F.col("v")).alias("_v"))
    lit = c.withColumn("cluster", nearest_centroid(F.col("_v"), cents)).select(
        "vec_id", "cluster"
    )
    jn = _assign_by_join(c, cents, "vec_id").select("vec_id", "cluster")
    a = sorted(tuple(r) for r in lit.collect())
    b = sorted(tuple(r) for r in jn.collect())
    assert a == b
    # and the auto-dispatch at k>64 runs the join path end to end
    big = sim.semantic_dedup(
        emb, threshold=0.99, n_clusters=70, iters=0, vec_col="v"
    )
    out = {r["vec_id"]: r for r in big.collect()}
    assert len(out) == 81 and not out[80]["is_keeper"]
    assert out[80]["component"] == 0


def test_pq_exact_when_codebook_covers(spark):
    """Zero quantization error == exact search: when every corpus
    subvector IS a codebook centroid (prototype corpus, seeds cover
    all prototypes), ADC distance equals true squared distance, so
    the top-k per query is exactly the query's prototype copies."""
    protos = [
        [1.0, 0.0, 0.0, 0.0, 2.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0, 0.0, 2.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 2.0, 0.0],
        [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 2.0],
    ]
    corpus = spark.createDataFrame(
        [(i, protos[i % 4]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, protos[0]), (1, protos[1])],
        "query_id long, embedding array<double>",
    )
    out = sim.pq_topk(
        corpus, queries, k=3, m=2, n_codes=4, iters=0, dim=8
    ).collect()
    by_q = {}
    for r in sorted(map(tuple, out)):
        by_q.setdefault(r[0], []).append(r)
    # query p's top-3 = the three copies of prototype p, lowest ids
    # first (ADC dist 0 for them, > 0 for every other vector), and the
    # reported exact cosine of an identical vector is 1.
    for qid, rows in by_q.items():
        assert [r[2] for r in rows] == [qid, qid + 4, qid + 8]
        assert [r[1] for r in rows] == [1, 2, 3]
        assert all(abs(r[3] - 1.0) < 1e-9 for r in rows)


def test_pq_model_artifact_roundtrip_and_codes(spark, tmp_path):
    import random

    rng = random.Random(11)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(2)],
        "query_id long, embedding array<double>",
    )
    kw = dict(k=5, m=2, n_codes=4, iters=1, dim=8)
    direct = sorted(map(tuple, sim.pq_topk(corpus, queries, **kw).collect()))
    model = sim.pq_model(corpus, m=2, n_codes=4, iters=1, dim=8)
    path = str(tmp_path / "pq_model")
    model.write.parquet(path)
    loaded = spark.read.parquet(path)
    via_model = sim.pq_topk(corpus, queries, model=loaded, **kw)
    assert sorted(map(tuple, via_model.collect())) == direct
    # pre-encoded corpus codes (the ingest-time artifact) — same result
    cb = sim._pq_codebook(loaded, 2, 4, 1)
    codes = sim.pq_encode(corpus, cb)
    cpath = str(tmp_path / "pq_codes")
    codes.write.parquet(cpath)
    via_codes = sim.pq_topk(
        corpus, queries, model=loaded,
        corpus_codes=spark.read.parquet(cpath), **kw,
    )
    assert sorted(map(tuple, via_codes.collect())) == direct


def test_pq_model_stamp_guard(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), float(i + 1), 0.0, 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 2.0, 0.0, 1.0])], "query_id long, embedding array<double>"
    )
    model = sim.pq_model(corpus, m=2, n_codes=2, iters=1, dim=4)
    with pytest.raises(ValueError, match="does not match"):
        sim.pq_topk(
            corpus, queries, m=2, n_codes=2, iters=2, dim=4, model=model
        )
    with pytest.raises(ValueError, match="lacks columns"):
        sim.pq_topk(
            corpus, queries, m=2, n_codes=2, iters=1, dim=4,
            model=model.drop("_m"),
        )
    with pytest.raises(ValueError, match="not divisible"):
        sim.pq_model(corpus, m=3, n_codes=2, iters=0, dim=4)
    # an artifact fit at a DIFFERENT vector dim must be rejected too —
    # zip_with over mismatched-length subvectors would otherwise
    # null-pad the ADC products silently
    with pytest.raises(ValueError, match="subdim"):
        sim.pq_topk(
            corpus, queries, m=2, n_codes=2, iters=1, dim=8, model=model
        )


def test_pq_encode_join_path_matches_literal(spark):
    import random

    rng = random.Random(13)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    model = sim.pq_model(corpus, m=4, n_codes=4, iters=1, dim=8)
    cb = sim._pq_codebook(model, 4, 4, 1)
    lit = {
        (r["vec_id"], tuple(r["codes"]))
        for r in sim.pq_encode(corpus, cb).collect()
    }
    joined = {
        (r["vec_id"], tuple(r["codes"]))
        for r in sim.pq_encode(corpus, cb, literal_max=0).collect()
    }
    assert lit == joined


def test_pq_pruned_allcells_matches_full_scan(spark):
    """IVFADC composition sanity: probing ALL coarse cells must equal
    the unpruned ADC scan exactly (same codebook, same ranking)."""
    import random

    rng = random.Random(17)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(3)],
        "query_id long, embedding array<double>",
    )
    kw = dict(k=5, m=2, n_codes=4, iters=1, dim=8)
    full = sorted(map(tuple, sim.pq_topk(corpus, queries, **kw).collect()))
    pruned = sim.pq_topk(
        corpus, queries, coarse_clusters=3, nprobe=3, coarse_iters=1, **kw
    )
    assert sorted(map(tuple, pruned.collect())) == full


def test_pq_pruned_scan_restricted_to_probed_cells(spark):
    """nprobe=1: every returned neighbor lives in the query's nearest
    coarse cell, and a query that is itself a corpus vector still
    finds itself (its own cell is always probed)."""
    import random

    rng = random.Random(19)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ccents = sim.kmeans_fit(corpus, n_clusters=4, iters=1)
    cb = sim._pq_codebook(
        sim.pq_model(corpus, m=2, n_codes=4, iters=1, dim=8), 2, 4, 1
    )
    tagged = sim.pq_encode(corpus, cb, coarse=ccents)
    cell_of = {r["vec_id"]: r["cluster"] for r in tagged.collect()}
    out = sim.pq_topk(
        corpus, queries, k=5, m=2, n_codes=4, iters=1, dim=8,
        coarse_clusters=4, nprobe=1, coarse_iters=1,
        corpus_codes=tagged,
    ).collect()
    by_q = {}
    for r in sorted(map(tuple, out)):
        by_q.setdefault(r[0], []).append(r)
    for qid, rows in by_q.items():
        # all hits share the query's own cell; self is the rank-1 hit
        assert all(cell_of[r[2]] == cell_of[qid] for r in rows)
        assert rows[0][2] == qid and abs(rows[0][3] - 1.0) < 1e-9


def test_pq_pruned_requires_cluster_tag(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 1.0, 2.0])], "query_id long, embedding array<double>"
    )
    cb = sim._pq_codebook(
        sim.pq_model(corpus, m=2, n_codes=2, iters=0, dim=4), 2, 2, 0
    )
    untagged = sim.pq_encode(corpus, cb)
    with pytest.raises(ValueError, match="cluster-tagged"):
        sim.pq_topk(
            corpus, queries, k=3, m=2, n_codes=2, iters=0, dim=4,
            coarse_clusters=2, corpus_codes=untagged,
        )


def test_ivf_topk_join_dispatch_matches_literal(spark, monkeypatch):
    """Forcing the large-k broadcast-join corpus tag + query probe
    (LITERAL_MAX_CENTROIDS=0) must reproduce the literal-expression
    path bit for bit, tie-breaks included."""
    import random

    rng = random.Random(23)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(3)],
        "query_id long, embedding array<double>",
    )
    kw = dict(k=5, n_clusters=4, nprobe=2, iters=1)
    lit = sorted(map(tuple, sim.ivf_topk(corpus, queries, **kw).collect()))
    monkeypatch.setattr(sim, "LITERAL_MAX_CENTROIDS", 0)
    joined = sorted(map(tuple, sim.ivf_topk(corpus, queries, **kw).collect()))
    assert joined == lit


def test_pq_pruned_join_probe_matches_literal(spark, monkeypatch):
    import random

    rng = random.Random(29)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(3)],
        "query_id long, embedding array<double>",
    )
    kw = dict(
        k=5, m=2, n_codes=4, iters=1, dim=8,
        coarse_clusters=4, nprobe=2, coarse_iters=1,
    )
    lit = sorted(map(tuple, sim.pq_topk(corpus, queries, **kw).collect()))
    monkeypatch.setattr(sim, "LITERAL_MAX_CENTROIDS", 0)
    joined = sorted(map(tuple, sim.pq_topk(corpus, queries, **kw).collect()))
    assert joined == lit


def test_kmeans_fit_join_iteration_matches_literal(spark, monkeypatch):
    import random

    rng = random.Random(31)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    lit = sim.kmeans_fit(corpus, n_clusters=5, iters=2)
    monkeypatch.setattr(sim, "LITERAL_MAX_CENTROIDS", 0)
    joined = sim.kmeans_fit(corpus, n_clusters=5, iters=2)
    assert joined == lit


def test_dataset_diff_statuses_and_token_deltas(spark):
    from privacy_cdc_lakehouse_spark.operators.curation import (
        dataset_diff,
        dataset_diff_summary,
    )

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta epsilon"), (3, "zeta")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma rewritten"), (4, "new doc here")],
        "doc_id long, text string",
    )
    diff = {r["doc_id"]: r for r in dataset_diff(old, new).collect()}
    assert set(diff) == {2, 3, 4}  # doc 1 identical -> excluded
    assert diff[2]["status"] == "changed"
    assert (diff[2]["tokens_old"], diff[2]["tokens_new"]) == (3, 2)
    assert diff[3]["status"] == "removed" and diff[3]["tokens_new"] is None
    assert diff[4]["status"] == "added" and diff[4]["tokens_old"] is None
    summ = {
        r["status"]: (r["n_docs"], r["token_delta"])
        for r in dataset_diff_summary(dataset_diff(old, new)).collect()
    }
    assert summ == {
        "changed": (1, -1),
        "removed": (1, -1),
        "added": (1, 3),
    }


def test_dataset_diff_null_text_is_presence_not_absence(spark):
    """md5(NULL) is NULL — without the coalesce, a doc present on both
    sides with NULL text reads as added/removed instead of
    identical/changed."""
    from privacy_cdc_lakehouse_spark.operators.curation import dataset_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "had text")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, None), (2, "now has text"), (3, None)],
        "doc_id long, text string",
    )
    diff = {r["doc_id"]: r["status"] for r in dataset_diff(old, new).collect()}
    # doc 1: NULL on both sides -> identical -> excluded;
    # docs 2/3: present on both sides -> changed, never added/removed
    assert diff == {2: "changed", 3: "changed"}


def test_dataset_diff_agrees_with_change_feed(spark, tmp_path):
    """Content diff between two table versions must tell the same
    story as the table's own Change Data Feed over that range —
    time-travel reads, CDF, and the diff operator triangulate."""
    from privacy_cdc_lakehouse_spark.operators.curation import dataset_diff
    from privacy_cdc_lakehouse_spark.tables import CHANGE_TYPE_COL, LakeTable

    t = LakeTable(spark, str(tmp_path / "corpus"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "stable doc"), (2, "will change"), (3, "will vanish")],
            "doc_id long, text string",
        )
    )
    v1 = t.current_version()
    src = spark.createDataFrame(
        [(2, "has changed", "u"), (3, None, "d"), (4, "brand new", "u")],
        "doc_id long, text string, op string",
    )
    t.merge(
        src,
        keys=["doc_id"],
        matched_delete=F.col("s.op") == "d",
        insert_condition=F.col("s.op") != "d",
        write_change_data=True,
    )
    diff = {
        r["doc_id"]: r["status"]
        for r in dataset_diff(t.read(version=v1), t.read()).collect()
    }
    assert diff == {2: "changed", 3: "removed", 4: "added"}
    # reconstruct the same statuses from the change feed
    feed = t.read_changes(v1 + 1).select("doc_id", CHANGE_TYPE_COL).collect()
    from_feed = {}
    for r in feed:
        ct = r[CHANGE_TYPE_COL]
        if ct == "insert":
            from_feed[r["doc_id"]] = "added"
        elif ct == "delete":
            from_feed[r["doc_id"]] = "removed"
        elif ct == "update_postimage":
            from_feed[r["doc_id"]] = "changed"
    assert from_feed == diff


def test_pca_model_matches_reference_and_whitens(spark, tmp_path):
    """pca_model's one-pass distributed covariance + driver eigh must
    agree with a straight numpy PCA; whitened projections have unit
    variance per component; the artifact parquet-round-trips."""
    np = pytest.importorskip("numpy")

    rng = np.random.default_rng(5)
    X = rng.normal(size=(300, 8)) @ np.diag([5, 3, 2, 1, 0.5, 0.3, 0.2, 0.1])
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    mdl = sim.pca_model(df, n_components=3, dim=8)
    path = str(tmp_path / "pca_model")
    mdl.write.parquet(path)
    mdl = spark.read.parquet(path)

    mean = X.mean(axis=0)
    C = np.cov(X.T, bias=True)
    evals, evecs = np.linalg.eigh(C)
    order = np.argsort(evals)[::-1][:3]
    got = {r["component"]: r for r in mdl.collect()}
    for rank, idx in enumerate(order):
        v = evecs[:, idx]
        p = int(np.argmax(np.abs(v)))
        if v[p] < 0:
            v = -v
        assert np.abs(np.array(got[rank]["loading"]) - v).max() < 1e-8
        assert abs(got[rank]["eigenvalue"] - evals[idx]) < 1e-8
        assert np.abs(np.array(got[rank]["mean"]) - mean).max() < 1e-8

    proj = sim.pca_project(df, mdl, n_components=3, whiten=True)
    P = np.array([r["pca"] for r in proj.orderBy("vec_id").collect()])
    assert np.abs(np.var(P, axis=0) - 1.0).max() < 1e-6
    # unwhitened: component variances = eigenvalues, components
    # uncorrelated
    raw = sim.pca_project(df, mdl, n_components=3)
    R = np.array([r["pca"] for r in raw.orderBy("vec_id").collect()])
    want = np.array([got[i]["eigenvalue"] for i in range(3)])
    assert np.abs(np.var(R, axis=0) - want).max() < 1e-6
    off = np.cov(R.T, bias=True) - np.diag(np.var(R, axis=0))
    assert np.abs(off).max() < 1e-6


def test_pca_model_stamp_guard(spark):
    df = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0, 0.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    mdl = sim.pca_model(df, n_components=2, dim=4)
    with pytest.raises(ValueError, match="does not match"):
        sim.pca_project(df, mdl, n_components=3)
    with pytest.raises(ValueError, match="lacks columns"):
        sim.pca_project(df, mdl.drop("_k"), n_components=2)


def test_pca_model_empty_corpus_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for method in ("explode", "pandas"):
        with pytest.raises(ValueError, match="non-empty corpus"):
            sim.pca_model(empty, n_components=2, dim=4, method=method)


def test_pca_then_pq_composition(spark):
    """OPQ-lite: PCA-reduce then product-quantize — the operators
    compose through an ordinary column (pq_topk over vec_col='pca',
    dim=n_components). Exact-duplicate vectors must still resolve as
    top matches after both transforms."""
    np = pytest.importorskip("numpy")

    rng = np.random.default_rng(7)
    X = rng.normal(size=(80, 16))
    X[40:] = X[:40]  # second half duplicates the first
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    mdl = sim.pca_model(df, n_components=8, dim=16)
    reduced = sim.pca_project(df, mdl, n_components=8)
    out = sim.pq_topk(
        reduced, reduced.filter("vec_id < 3").select(
            F.col("vec_id").alias("query_id"), "pca"
        ),
        k=2, m=4, n_codes=8, iters=1, dim=8, vec_col="pca",
    ).collect()
    by_q = {}
    for r in sorted(map(tuple, out)):
        by_q.setdefault(r[0], []).append(r)
    for qid, rows in by_q.items():
        # self and its exact duplicate occupy the top-2 (ADC dist 0)
        assert {rows[0][2], rows[1][2]} == {qid, qid + 40}


def test_stratified_sample_exact_deterministic_and_two_phase(spark):
    from pyspark.sql import Window as W

    from privacy_cdc_lakehouse_spark.operators.curation import (
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(90)]
        + [(1000 + i, "tiny") for i in range(3)],
        "doc_id long, lang string",
    )
    out = sorted(map(tuple, stratified_sample(df, 7).collect()))
    by_s = {}
    for s, i, r in out:
        by_s.setdefault(s, []).append((r, i))
    # exact n per stratum; a stratum smaller than n keeps everything
    assert {s: len(v) for s, v in by_s.items()} == {
        "a": 7, "b": 7, "c": 7, "tiny": 3,
    }
    # ranks are 1..n and the selection equals the naive global window
    h = F.md5(F.col("doc_id").cast("string"))
    naive = (
        df.select("lang", "doc_id", h.alias("_h"))
        .withColumn(
            "sample_rank",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.asc("_h"), F.asc("doc_id"))
            ),
        )
        .filter("sample_rank <= 7")
        .select("lang", "doc_id", "sample_rank")
    )
    assert out == sorted(map(tuple, naive.collect()))
    # deterministic across calls
    assert out == sorted(map(tuple, stratified_sample(df, 7).collect()))
    # a hopeless initial threshold retries geometrically and still
    # lands the exact same answer
    assert out == sorted(
        map(tuple, stratified_sample(df, 7, oversample=0.001).collect())
    )


def test_stratified_sample_join_threshold_matches_literal(spark):
    """>64 strata dispatch the threshold to a broadcast join — must
    select exactly what the literal CASE path selects."""
    from privacy_cdc_lakehouse_spark.operators.curation import (
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 100}") for i in range(1000)],
        "doc_id long, lang string",
    )
    out = sorted(map(tuple, stratified_sample(df, 3).collect()))
    # 100 strata of 10 docs each -> join path; every stratum exactly 3
    per = {}
    for s, i, r in out:
        per[s] = per.get(s, 0) + 1
    assert per == {f"s{j}": 3 for j in range(100)}
    # literal path over a <=64-strata subset picks the same rows
    sub = df.filter(F.col("lang").isin([f"s{j}" for j in range(50)]))
    lit = sorted(map(tuple, stratified_sample(sub, 3).collect()))
    assert [t for t in out if t[0] in {f"s{j}" for j in range(50)}] == lit


def test_slot_persist_bounds_cache_to_one_subplan(spark):
    """Repeated invocations of a lazy-return persisting query must not
    accumulate cached blocks — each slot_persist evicts the slot's
    previous occupant."""
    from privacy_cdc_lakehouse_spark.operators.util import slot_persist

    a = spark.range(10)
    b = spark.range(20)
    assert slot_persist(a, "_test_slot").storageLevel.useMemory
    a.count()
    assert slot_persist(b, "_test_slot").storageLevel.useMemory
    assert not a.storageLevel.useMemory  # previous occupant unpersisted
    assert b.count() == 20
    slot_persist(spark.range(1), "_test_slot").unpersist()


def test_normalize_text_unicode_forms(spark):
    import unicodedata

    from privacy_cdc_lakehouse_spark.operators.text import normalize_text

    rows = [
        (1, "Café"),            # composed é
        (2, "Café"),           # decomposed e + combining acute
        (3, "Straße"),          # ß casefolds to ss
        (4, "ﬁne"),             # fi ligature (NFKC splits)
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    nfc = {
        r["id"]: r["n"]
        for r in df.select(
            "id", normalize_text(F.col("text")).alias("n")
        ).collect()
    }
    # composed == decomposed after NFC; matches unicodedata exactly
    assert nfc[1] == nfc[2] == unicodedata.normalize("NFC", "Café")
    assert nfc[5] is None
    nfkc_fold = {
        r["id"]: r["n"]
        for r in df.select(
            "id",
            normalize_text(F.col("text"), form="NFKC", casefold=True).alias("n"),
        ).collect()
    }
    assert nfkc_fold[3] == "strasse"
    assert nfkc_fold[4] == "fine"
    stripped = {
        r["id"]: r["n"]
        for r in df.select(
            "id",
            normalize_text(F.col("text"), strip_accents=True).alias("n"),
        ).collect()
    }
    assert stripped[1] == stripped[2] == "Cafe"
    # normalized exact-dedup now matches what raw bytes missed
    fp = df.filter("id <= 2").select(
        F.md5(normalize_text(F.col("text"))).alias("h")
    ).distinct()
    assert fp.count() == 1


def test_pca_pandas_gramian_matches_explode(spark):
    """The BLAS (mapInPandas Gramian) fit must agree with the JVM
    explode fit to float-summation tolerance — same moments, same
    eigh, same sign normalization."""
    np = pytest.importorskip("numpy")

    rng = np.random.default_rng(13)
    X = rng.normal(size=(200, 8)) @ np.diag([4, 3, 2, 1, 1, 0.5, 0.3, 0.1])
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    a = {r["component"]: r for r in sim.pca_model(df, 3, dim=8).collect()}
    b = {
        r["component"]: r
        for r in sim.pca_model(df, 3, dim=8, method="pandas").collect()
    }
    for c in range(3):
        assert np.abs(
            np.array(a[c]["loading"]) - np.array(b[c]["loading"])
        ).max() < 1e-6
        assert abs(a[c]["eigenvalue"] - b[c]["eigenvalue"]) < 1e-6
    with pytest.raises(ValueError, match="unknown pca_model method"):
        sim.pca_model(df, 3, dim=8, method="bogus")


def test_dataset_diff_null_vs_empty_is_changed(spark):
    """NULL text and '' are different values (token_count('')=0 vs
    NULL) — the presence-prefixed fingerprint must classify a
    NULL<->'' flip as changed, not identical (round-9 ADVICE: the bare
    md5(coalesce(text, '')) conflated them)."""
    from privacy_cdc_lakehouse_spark.operators.curation import dataset_diff

    old = spark.createDataFrame(
        [(1, None), (2, ""), (3, "")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, ""), (2, None), (3, "")], "doc_id long, text string"
    )
    diff = {r["doc_id"]: r["status"] for r in dataset_diff(old, new).collect()}
    # 1/2 flip between NULL and '' -> changed; 3 is '' on both -> identical
    assert diff == {1: "changed", 2: "changed"}


def test_pq_topk_rejects_non_divisible_query_dim(spark):
    """dim=9, m=2 truncates to subdim 4 and would stamp-match a
    subdim-4 artifact while silently dropping the 9th query coordinate
    from the slice-based ADC tables — the artifact path must enforce
    the same divisibility contract as the fit path (round-9 ADVICE)."""
    import pytest

    corpus = spark.createDataFrame(
        [(i, [float(i + j) for j in range(4)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    model = sim.pq_model(corpus, m=2, n_codes=2, iters=1, dim=4)
    with pytest.raises(ValueError, match="not divisible"):
        sim.pq_topk(
            corpus, queries, m=2, n_codes=2, iters=1, dim=9, model=model
        )


def test_slot_persist_purges_stopped_session_entries(spark):
    """An entry left by a torn-down session must be evicted on the next
    slot_persist call ANYWHERE — not retained until its own slot is
    reused (round-9 verdict task: the module-global dict pinned the
    dead session's plan)."""
    from privacy_cdc_lakehouse_spark.operators import util

    class _DeadSC:
        _jsc = None

    class _DeadSession:
        _sc = _DeadSC()

    class _Recorder:
        unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    rec = _Recorder()
    stale_key = (-1, "_stale_other_slot")
    with util._PERSIST_LOCK:
        util._PERSIST_SLOTS[stale_key] = (_DeadSession(), rec)
    df = util.slot_persist(spark.range(5), "_evict_test_slot")
    assert stale_key not in util._PERSIST_SLOTS
    assert rec.unpersisted
    assert df.count() == 5
    # live-session entries for OTHER slots survive
    assert any(k[1] == "_evict_test_slot" for k in util._PERSIST_SLOTS)
    df.unpersist()
    with util._PERSIST_LOCK:
        util._PERSIST_SLOTS.pop(
            next(k for k in util._PERSIST_SLOTS if k[1] == "_evict_test_slot"),
            None,
        )


def test_stratified_sample_doubling_boundary_property(spark):
    """Boundary property sweep pinning the histogram/threshold float-
    expression agreement the 1e-9 headroom relies on (round-9 verdict
    task #8): stratum sizes sit exactly AT and ±1 AROUND the doubling
    boundaries c = oversample*n*2^k for levels 0-3, where the
    histogram's `u*scale <= 2^k` and the final filter's `u <= thr` are
    evaluated as different float expressions. The two-phase selection
    must equal the naive global window at every size — one wrong
    boundary row breaks the per-stratum equality."""
    from pyspark.sql import Window as W

    from privacy_cdc_lakehouse_spark.operators.curation import (
        stratified_sample,
    )

    n, oversample = 2, 4.0
    sizes = sorted(
        {
            max(1, int(oversample * n * (2 ** k)) + d)
            for k in range(4)
            for d in (-1, 0, 1)
        }
    )
    rows = []
    for si, size in enumerate(sizes):
        rows += [(si * 10_000 + j, f"s{size}") for j in range(size)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    two_phase = sorted(
        map(tuple, stratified_sample(df, n, oversample=oversample).collect())
    )
    h = F.md5(F.col("doc_id").cast("string"))
    naive = (
        df.select("lang", "doc_id", h.alias("_h"))
        .withColumn(
            "sample_rank",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.asc("_h"), F.asc("doc_id"))
            ),
        )
        .filter(F.col("sample_rank") <= n)
        .select("lang", "doc_id", "sample_rank")
    )
    assert two_phase == sorted(map(tuple, naive.collect()))
    # every stratum yields exactly min(n, size) rows
    got = {}
    for s, _, _ in two_phase:
        got[s] = got.get(s, 0) + 1
    assert got == {f"s{size}": min(n, size) for size in sizes}


def test_connected_components_executes_pair_pipeline_once(spark):
    """The closure loop must consume a MATERIALIZED edge list: before
    round 9 the lazily-built edges re-executed the full upstream pair
    pipeline (the expensive LSH/cosine part) once per iteration, plus
    twice more for the two-select union and label seeding. An
    accumulator-bumping UDF in the pair plan counts actual upstream
    executions: exactly one pass over the 3 pairs, regardless of how
    many iterations run or how often the result is collected."""
    from pyspark.sql.functions import udf
    from pyspark.sql.types import LongType

    from privacy_cdc_lakehouse_spark.operators.dedup import (
        connected_components,
    )

    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return x

    bump_udf = udf(bump, LongType())
    # chain 1-2-3 needs >1 closure iteration; 5-6 is a separate component
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    ).select(bump_udf("id_a").alias("id_a"), "id_b")
    comp = connected_components(pairs)
    out = {r["id"]: r["component"] for r in comp.collect()}
    comp.collect()  # second action — edges must not recompute
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    assert acc.value == 3, f"pair pipeline executed {acc.value / 3}x"


def test_brute_force_topk_l2_metric(spark):
    """metric='l2' ranks by ascending squared Euclidean distance with
    the same (score, neighbor_id) tie-break as the cosine path."""
    corpus = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [1.0, 0.0]),
            (2, [0.0, 2.0]),
            (3, [3.0, 4.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(9, [0.0, 0.0])], "query_id long, embedding array<double>"
    )
    out = [
        (r["rank"], r["neighbor_id"], r["dist"])
        for r in sim.brute_force_topk(corpus, q, k=3, metric="l2")
        .orderBy("rank")
        .collect()
    ]
    assert out == [(1, 0, 0.0), (2, 1, 1.0), (3, 2, 4.0)]
    import pytest

    with pytest.raises(ValueError, match="unknown metric"):
        sim.brute_force_topk(corpus, q, metric="chebyshev")


def test_knn_classify_majority_vote_and_tiebreak(spark):
    """Majority label among the top-k cosine neighbors; ties break
    (count desc, label asc) so prediction is deterministic."""
    # 1-d embeddings on a line: cosine of positive scalars is always 1,
    # so use 2-d unit vectors at distinct angles — neighbors by angle.
    import math

    def vec(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    rows = [
        (0, vec(0), 7),    # query
        (1, vec(1), 3),
        (2, vec(2), 3),
        (3, vec(3), 5),
        (4, vec(80), 9),   # far — outside k=3
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    q = spark.createDataFrame(
        [(0, vec(0))], "query_id long, embedding array<double>"
    )
    # k=4: neighbors {0(self,7), 1(3), 2(3), 3(5)} -> label 3 wins 2-1-1
    out = sim.knn_classify(corpus, q, k=4).collect()
    assert [(r["query_id"], r["predicted_label"]) for r in out] == [(0, 3)]
    # k=2: neighbors {0(7), 1(3)} -> 1-1 tie -> lowest label wins
    out2 = sim.knn_classify(corpus, q, k=2).collect()
    assert [(r["query_id"], r["predicted_label"]) for r in out2] == [(0, 3)]


def test_nb_model_closed_form_and_classify(spark):
    """Closed-form Laplace smoothing check + argmax classification.
    Train: class x = 'a a b', class y = 'c c'; V = 3.
    p(a|x) = (2+1)/(3+3) = 1/2; p(c|x) = (0+1)/6 floor;
    p(c|y) = (2+1)/(2+3) = 3/5; priors 1/2 each."""
    train = spark.createDataFrame(
        [("x", "a a b"), ("y", "c c")], ["lab", "text"]
    )
    m = tx.nb_model(train, label_col="lab", text_col="text")
    rows = {(r["label"], r["w"]): r for r in m.collect()}
    assert rows[("x", "a")]["logp"] == round(math.log(3 / 6), 6)
    assert rows[("x", "b")]["logp"] == round(math.log(2 / 6), 6)
    assert rows[("y", "c")]["logp"] == round(math.log(3 / 5), 6)
    assert rows[("x", "a")]["floor_logp"] == round(math.log(1 / 6), 6)
    assert rows[("y", "c")]["floor_logp"] == round(math.log(1 / 5), 6)
    assert rows[("x", "a")]["log_prior"] == round(math.log(1 / 2), 6)
    # classification: 'a b' -> x; 'c' -> y; case-folds ('C' == 'c')
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "C"), (3, "")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in tx.nb_classify(docs, m).collect()}
    assert out[1]["label_pred"] == "x" and out[2]["label_pred"] == "y"
    assert out[1]["score"] == round(
        round(math.log(1 / 2), 6)
        + round(math.log(3 / 6), 6)
        + round(math.log(2 / 6), 6),
        4,
    )
    assert 3 not in out  # zero-token doc is absent, like doc_logprob


def test_nb_classify_tiebreak_smallest_label(spark):
    """Symmetric training data makes both class scores identical for a
    word seen equally under both labels — the argmax must break to the
    lexicographically smallest label, deterministically."""
    train = spark.createDataFrame(
        [("x", "a"), ("y", "a")], ["lab", "text"]
    )
    m = tx.nb_model(train, label_col="lab", text_col="text")
    docs = spark.createDataFrame([(1, "a a")], ["doc_id", "text"])
    out = tx.nb_classify(docs, m).collect()
    assert [(r["doc_id"], r["label_pred"]) for r in out] == [(1, "x")]


def test_fuzzy_contamination_catches_near_verbatim(spark):
    """A lightly-perturbed copy of a benchmark doc must flag
    (0.5 <= J < 1), the benchmark doc itself flags at J = 1.0, and an
    unrelated doc is zero-filled. Tokens repeat-free so shingle-set
    Jaccard is predictable."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    corpus = spark.createDataFrame(
        [
            (1, base),                      # == benchmark doc: J = 1
            (2, base + " tail extra"),      # near copy: J < 1, >= 0.5
            (3, "zz yy xx ww vv uu tt ss"), # unrelated
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    out = {
        r["doc_id"]: r for r in cur.fuzzy_contamination(corpus, bench).collect()
    }
    assert len(out) == 3  # every corpus doc present, zero-filled
    assert out[1]["n_fuzzy_docs"] == 1 and out[1]["max_jaccard"] == 1.0
    assert out[2]["n_fuzzy_docs"] == 1 and 0.5 <= out[2]["max_jaccard"] < 1.0
    assert out[3]["n_fuzzy_docs"] == 0 and out[3]["max_jaccard"] == 0.0


def test_fuzzy_contamination_signature_artifact_reuse_and_guard(spark):
    """The corpus_signatures reuse hook must give identical results to
    the computed path, and a num_perm-mismatched artifact must raise
    instead of silently joining nothing."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "p q r s t u v w")],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(9, "a b c d e f g h")], ["doc_id", "text"])
    sigs = dd.minhash_signatures(corpus, num_perm=16)
    got = sorted(
        tuple(r)
        for r in cur.fuzzy_contamination(
            corpus, bench, corpus_signatures=sigs
        ).collect()
    )
    want = sorted(
        tuple(r) for r in cur.fuzzy_contamination(corpus, bench).collect()
    )
    assert got == want
    with pytest.raises(Exception, match="different num_perm"):
        cur.fuzzy_contamination(
            corpus, bench, num_perm=8, corpus_signatures=sigs
        ).collect()


def test_simhash_near_dups_pigeonhole_and_verify(spark):
    """An identical doc pair must verify at hamming 0; a lightly
    perturbed doc within the hamming budget is found (pigeonhole: any
    pair with hamming < bands collides on >= 1 band); an unrelated doc
    pairs with nothing; max_hamming beyond bands-1 is refused."""
    corpus = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),  # exact copy
            (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 tail"), # near copy
            (4, "aa bb cc dd ee ff gg hh ii jj kk ll"),     # unrelated
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_near_dups(
            corpus, bits=28, bands=7, max_hamming=6
        ).collect()
    }
    assert out[(1, 2)] == 0
    assert (1, 3) in out and 0 < out[(1, 3)] <= 6
    assert not any(4 in p for p in out)
    with pytest.raises(ValueError, match="pigeonhole"):
        dd.simhash_near_dups(corpus, bits=28, bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="divisible"):
        dd.simhash_near_dups(corpus, bits=30, bands=4)


def test_simhash_near_dups_signature_artifact_reuse_and_guard(spark):
    """The signatures reuse hook must match the computed path exactly,
    and an artifact wider than the declared bits must raise."""
    corpus = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8"),
        ],
        ["doc_id", "text"],
    )
    sig28 = dd.simhash_portable(corpus, bits=28)
    got = sorted(
        tuple(r)
        for r in dd.simhash_near_dups(
            corpus, bits=28, bands=4, max_hamming=3, signatures=sig28
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in dd.simhash_near_dups(
            corpus,
            bits=28,
            bands=4,
            max_hamming=3,
            hash_fn=lambda c: F.conv(
                F.substring(F.md5(c), 1, 7), 16, 10
            ).cast("long"),
        ).collect()
    )
    assert got == want and got  # non-empty: the exact pair is found
    # a 28-bit artifact used as 16-bit must fail the width guard
    # (unless every signature happens to fit — these don't)
    wide = sig28.filter(F.col("simhash") >= 2**16)
    if wide.limit(1).count():
        with pytest.raises(Exception, match="wider"):
            dd.simhash_near_dups(
                corpus, bits=16, bands=4, max_hamming=3, signatures=sig28
            ).collect()


def test_prototypes_filter_ranks_and_drops_per_cell(spark):
    """Two well-separated cells; within each, the vector nearest its
    centroid gets rank 1 and is dropped at drop_frac=0.5 while the
    diverse tail survives; ranks are dense per cell; floor arithmetic
    drops exactly floor(0.5 * n) per cell."""
    # cell A around e1 (ids 1-4), cell B around e2 (ids 5-8); iters=0
    # seeds are the 2 lowest ids, so seed 0 = id 1 (cell A), seed 1 =
    # id 2... put the two seeds in opposite corners instead.
    rows = [
        (1, [1.0, 0.0, 0.0]),    # seed 0 -> cell A centroid
        (2, [0.0, 1.0, 0.0]),    # seed 1 -> cell B centroid
        (3, [0.9, 0.1, 0.0]),    # A, very prototypical
        (4, [0.6, 0.0, 0.8]),    # A, diverse
        (5, [0.1, 0.9, 0.0]),    # B, very prototypical
        (6, [0.0, 0.6, 0.8]),    # B, diverse
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in sim.prototypes_filter(
            corpus, drop_frac=0.5, n_clusters=2, iters=0
        ).collect()
    }
    a = [i for i in out if out[i]["cluster"] == 0]
    b = [i for i in out if out[i]["cluster"] == 1]
    assert sorted(a) == [1, 3, 4] and sorted(b) == [2, 5, 6]
    for cell in (a, b):
        ranks = sorted(out[i]["proto_rank"] for i in cell)
        assert ranks == [1, 2, 3]
        assert all(out[i]["cell_n"] == 3 for i in cell)
        # floor(0.5 * 3) = 1 dropped: exactly the rank-1 prototype
        dropped = [i for i in cell if not out[i]["is_kept"]]
        assert [out[i]["proto_rank"] for i in dropped] == [1]
    # the seed itself IS its centroid -> cosine 1.0 -> rank 1
    assert out[1]["proto_rank"] == 1 and out[2]["proto_rank"] == 1
    assert out[4]["is_kept"] and out[6]["is_kept"]  # diverse tail survives
    with pytest.raises(ValueError, match="drop_frac"):
        sim.prototypes_filter(corpus, drop_frac=1.0, n_clusters=2)


def test_prototypes_filter_model_artifact_and_join_path_parity(spark):
    """An ivf_model artifact must reproduce the inline fit exactly, and
    the broadcast-join assignment path (forced via LITERAL_MAX_CENTROIDS)
    must match the literal-expression path bit for bit."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    inline = sorted(
        tuple(r)
        for r in sim.prototypes_filter(
            corpus, drop_frac=0.25, n_clusters=4, iters=1
        ).collect()
    )
    model = sim.ivf_model(corpus, n_clusters=4, iters=1)
    via_model = sorted(
        tuple(r)
        for r in sim.prototypes_filter(
            corpus, drop_frac=0.25, n_clusters=4, iters=1, model=model
        ).collect()
    )
    assert inline == via_model
    old = sim.LITERAL_MAX_CENTROIDS
    sim.LITERAL_MAX_CENTROIDS = 0
    try:
        joined = sorted(
            tuple(r)
            for r in sim.prototypes_filter(
                corpus, drop_frac=0.25, n_clusters=4, iters=1, model=model
            ).collect()
        )
    finally:
        sim.LITERAL_MAX_CENTROIDS = old
    assert joined == inline
    with pytest.raises(ValueError, match="k=4"):
        sim.prototypes_filter(corpus, n_clusters=8, iters=1, model=model)


def test_dsir_logweights_closed_form_and_floors(spark):
    """Hand-computed log-ratio weights: target LM trained on
    'aa aa aa aa bb bb' (p(aa)=4/6, p(bb)=2/6, floor ln(1/6)), raw LM
    on 'aa bb cc dd' (p=1/4 each). A doc of target-like words scores
    positive; an off-target doc hits the target floor for unseen words
    and scores negative."""
    target = tx.unigram_lm(_docs(spark, [(1, "aa aa aa aa bb bb")]))
    raw = tx.unigram_lm(_docs(spark, [(1, "aa bb cc dd")]))
    docs = _docs(spark, [(10, "aa bb"), (11, "cc dd"), (12, "aa aa aa")])
    got = {
        r["doc_id"]: (r["n_tokens"], r["log_weight"])
        for r in tx.dsir_logweights(docs, target, raw).collect()
    }
    ln = math.log
    # doc 10: [ln(4/6)-ln(1/4)] + [ln(2/6)-ln(1/4)]
    assert got[10] == (2, round(ln(4 / 6) - ln(1 / 4) + ln(2 / 6) - ln(1 / 4), 4))
    # doc 11: cc/dd unseen in target -> floor ln(1/6) each
    assert got[11] == (2, round(2 * (ln(1 / 6) - ln(1 / 4)), 4))
    # doc 12: 3 * [ln(4/6) - ln(1/4)] > 0 (strongly target-like)
    assert got[12] == (3, round(3 * (ln(4 / 6) - ln(1 / 4)), 4))
    assert got[12][1] > 0 > got[11][1]


def test_winnow_fingerprints_guarantee_and_window_rule(spark):
    """The Schleimer guarantee: two docs sharing a substring of length
    >= window + k - 1 share at least one fingerprint; identical docs
    produce identical sketches; a doc shorter than k yields nothing;
    one with fewer than `window` grams winnows its single partial
    window; whitespace/case normalization aligns grams."""
    shared = "abcdefghijklmnopqrstuv"  # 22 chars >> window+k-1 = 11
    docs = _docs(
        spark,
        [
            (1, f"xxxx {shared} yyyy"),
            (2, f"zz {shared} qqqq rrr"),
            (3, f"xxxx {shared} yyyy"),           # identical to 1
            (4, f"XXXX   {shared}  YYYY"),        # normalizes to doc 1
            (5, "tiny"),                          # < k chars: no grams
            (6, "exactly9!"),                     # 9 chars: 2 grams < window
        ],
    )
    out = dd.winnow_fingerprints(docs, k=8, window=4)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], set()).add((r["pos"], r["fingerprint"]))
    assert {f for _, f in by_doc[1]} & {f for _, f in by_doc[2]}
    assert by_doc[1] == by_doc[3] == by_doc[4]
    assert 5 not in by_doc
    # 2 grams, no full window -> the pos-1 partial window picks ONE min
    assert len(by_doc[6]) == 1
    with pytest.raises(ValueError, match="window"):
        dd.winnow_fingerprints(docs, k=8, window=0)
    with pytest.raises(ValueError, match="k must"):
        dd.winnow_fingerprints(docs, k=0)


def test_winnow_fingerprints_rightmost_min_tie(spark):
    """A run of identical grams hashes to identical values; the robust
    winnowing rule must select the RIGHTMOST minimal position in each
    window, so a constant doc of n grams with window w selects exactly
    the positions {w, w+1, ..., n} plus nothing earlier — i.e. each
    window start p selects p + w - 1."""
    # 'aaaaaaaaaaaa' -> 12 chars, k=4 -> 9 identical grams, window=3
    docs = _docs(spark, [(1, "a" * 12)])
    got = sorted(
        r["pos"]
        for r in dd.winnow_fingerprints(docs, k=4, window=3).collect()
    )
    # window starts p = 1..7 select p+2 (rightmost of the tied mins)
    assert got == [3, 4, 5, 6, 7, 8, 9]


def test_token_budget_select_prefix_rule_and_boundary_bucket(spark):
    """Deterministic budgeted selection: docs ordered by (score desc,
    id asc) keep while the running token total fits; the overflowing
    doc drops and nothing later backfills; two-phase == the naive
    global cumsum on a case whose boundary bucket splits mid-bucket."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    rows = [
        # (doc_id, text->tokens, score): score 0.9 bucket = 6 tokens,
        # score 0.5 bucket = 9 tokens across 3 docs, score 0.1 = 4
        (1, "a b c", 0.9),        # 3 tokens
        (2, "d e f", 0.9),        # 3 tokens
        (3, "g h i", 0.5),        # 3
        (4, "j k l", 0.5),        # 3
        (5, "m n o", 0.5),        # 3
        (6, "p q r s", 0.1),      # 4
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, s double")
    # budget 10: all of 0.9 (6 tokens) + doc 3 of the 0.5 bucket
    # (cum 9); doc 4 would overflow to 12 and drops, as does all after
    got = {
        r["doc_id"]: (r["_tokens"], r["is_selected"])
        for r in cur.token_budget_select(
            docs, budget=10, score_col="s"
        ).collect()
    }
    assert got == {
        1: (3, True), 2: (3, True), 3: (3, True), 4: (3, False),
        5: (3, False), 6: (4, False),
    }
    # budget exactly at a bucket edge: 6 -> whole 0.9 bucket, none else
    got6 = {
        r["doc_id"]: r["is_selected"]
        for r in cur.token_budget_select(docs, budget=6, score_col="s").collect()
    }
    assert got6 == {1: True, 2: True, 3: False, 4: False, 5: False, 6: False}
    # zero budget selects nothing; negative refused
    got0 = {
        r["doc_id"]: r["is_selected"]
        for r in cur.token_budget_select(docs, budget=0, score_col="s").collect()
    }
    assert not any(got0.values())
    with pytest.raises(ValueError, match="budget"):
        cur.token_budget_select(docs, budget=-1, score_col="s")


def test_token_budget_select_token_col_hook_matches_naive(spark):
    """Randomized parity: the two-phase plan equals the naive global
    window on 60 docs with noisy scores/token counts, using the
    precomputed token_col reuse hook."""
    import random

    from pyspark.sql import Window

    from privacy_cdc_lakehouse_spark.operators import curation as cur

    rng = random.Random(11)
    rows = [
        (i, rng.randint(0, 30), round(rng.choice([0.1, 0.3, 0.7, 0.9]), 1))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, nt long, s double")
    budget = 300
    got = {
        r["doc_id"]: r["is_selected"]
        for r in cur.token_budget_select(
            docs, budget=budget, score_col="s", token_col="nt"
        ).collect()
    }
    naive_w = Window.orderBy(F.desc("s"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {
        r["doc_id"]: r["keep"]
        for r in docs.withColumn(
            "keep", F.sum("nt").over(naive_w) <= budget
        ).collect()
    }
    assert got == want


def test_candidate_joins_survive_without_forced_broadcast(spark):
    """Round-10 hardening: the candidate-sized frames in
    token_budget_select (score buckets), simhash_near_dups (candidate
    signatures) and fuzzy_contamination (candidate shingles) carry NO
    F.broadcast hint, and ngram_jaccard_pairs offers
    broadcast_candidates=False — with runtime broadcast disabled
    entirely they all degrade to shuffle joins and still return the
    right answers. Before round 10 a forced hint made an unrounded
    score column / duplicate-heavy corpus a driver OOM instead of a
    graceful shuffle. (ngram_jaccard_pairs keeps the hint as its
    DEFAULT — the sf1 gate measured the un-hinted plan at 3.16x from
    shuffle writes AQE's late BHJ conversion cannot unplan; see its
    docstring.)"""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        # worst case for the budget bucket join: every score distinct
        # (bucket table is corpus-sized — exactly the shape the old
        # forced broadcast would have OOMed on at scale)
        rows = [(i, 3 + (i % 5), 0.123456 + i * 1e-6) for i in range(40)]
        docs = spark.createDataFrame(rows, "doc_id long, nt long, s double")
        out = cur.token_budget_select(
            docs, budget=100, score_col="s", token_col="nt"
        )
        got = {r["doc_id"]: r["is_selected"] for r in out.collect()}
        from pyspark.sql import Window

        naive_w = Window.orderBy(F.desc("s"), F.asc("doc_id")).rowsBetween(
            Window.unboundedPreceding, 0
        )
        want = {
            r["doc_id"]: r["keep"]
            for r in docs.withColumn(
                "keep", F.sum("nt").over(naive_w) <= 100
            ).collect()
        }
        assert got == want
        # the operator itself must not smuggle a hint back in: with
        # broadcast disabled, its executed plan has no broadcast join
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        # minhash verify + simhash banding still correct as shuffle joins
        base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
        corpus = spark.createDataFrame(
            [(1, base), (2, base), (3, base + " tail"), (4, "zz yy xx ww")],
            ["doc_id", "text"],
        )
        cands = dd.minhash_lsh_pairs(corpus)
        jac = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dd.ngram_jaccard_pairs(
                corpus, cands, threshold=0.5, broadcast_candidates=False
            ).collect()
        }
        assert jac[(1, 2)] == 1.0 and not any(4 in p for p in jac)
        sh = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dd.simhash_near_dups(
                corpus, bits=28, bands=7, max_hamming=6
            ).collect()
        }
        assert sh[(1, 2)] == 0 and (1, 3) in sh and not any(4 in p for p in sh)
        bench = spark.createDataFrame([(9, base)], ["doc_id", "text"])
        fz = {
            r["doc_id"]: r["n_fuzzy_docs"]
            for r in cur.fuzzy_contamination(corpus, bench).collect()
        }
        assert fz[1] == 1 and fz[2] == 1 and fz[4] == 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_mixture_sample_plan_is_pure_projection(spark):
    """The mixing decision must stay a codegen'd projection + filter —
    no aggregate, no join, no explode (the growth-stability claim: a
    row's fate is a pure function of its id). Pinned here because the
    registered query's union now carries the budget arm's aggregate."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    docs = spark.createDataFrame(
        [(1, "en"), (2, "de")], "doc_id long, lang string"
    )
    out = cur.mixture_sample(docs, rates={"en": 0.5}, default_rate=0.1)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "HashAggregate" not in plan
    assert "Join" not in plan
    assert "Generate" not in plan
    assert "Exchange" not in plan


def test_temperature_rates_closed_form(spark):
    """alpha=0.5 on an 80/20 token split: shares 0.8/0.2; rates
    (p/p_min)^(-0.5) -> small stratum keeps 1.0, large keeps 1/2
    (sqrt(0.2/0.8)); alpha=1 reproduces the natural distribution
    (all rates 1); invalid alpha refused; token_col hook honored."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    docs = spark.createDataFrame(
        [(1, "en", 80), (2, "de", 20)], "doc_id long, lang string, nt long"
    )
    got = {
        r["stratum"]: r
        for r in cur.temperature_rates(
            docs, alpha=0.5, token_col="nt"
        ).collect()
    }
    assert got["en"]["n_tokens"] == 80 and got["de"]["n_tokens"] == 20
    assert got["en"]["share"] == 0.8 and got["de"]["share"] == 0.2
    assert got["de"]["rate"] == 1.0
    assert got["en"]["rate"] == 0.5  # (0.8/0.2)^-0.5 = 1/2 exactly
    flat = {
        r["stratum"]: r["rate"]
        for r in cur.temperature_rates(docs, alpha=1.0, token_col="nt").collect()
    }
    assert flat == {"en": 1.0, "de": 1.0}
    with pytest.raises(ValueError, match="alpha"):
        cur.temperature_rates(docs, alpha=0.0, token_col="nt")


def test_winnow_near_dups_shared_counts_and_boilerplate_filter(spark):
    """Docs sharing a long substring pair with n_shared >= 1 lower-
    bounded by the winnowing guarantee; identical docs share their
    whole sketch; max_df drops a boilerplate phrase present in every
    doc (without it that phrase pairs everything with everything);
    the fingerprints reuse hook matches the inline path."""
    boiler = "subscribe to our newsletter today"
    shared = "the quick brown fox jumps over the lazy dog"
    docs = _docs(
        spark,
        [
            (1, f"{shared} alpha beta gamma. {boiler}"),
            (2, f"intro words here. {shared} {boiler}"),
            (3, f"{shared} alpha beta gamma. {boiler}"),   # == doc 1
            (4, f"totally unrelated content qq ww ee rr tt yy. {boiler}"),
        ],
    )
    out = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dd.winnow_near_dups(
            docs, k=8, window=4, max_df=3, min_shared=2
        ).collect()
    }
    assert (1, 2) in out and (1, 3) in out and (2, 3) in out
    # identical docs share everything: their count is the max
    assert out[(1, 3)] == max(out.values())
    # doc 4 only shares the boilerplate tail, which max_df=3 dropped
    assert not any(4 in p for p in out)
    # without the filter, the boilerplate pairs doc 4 into the graph
    unfiltered = {
        (r["id_a"], r["id_b"])
        for r in dd.winnow_near_dups(
            docs, k=8, window=4, min_shared=2
        ).collect()
    }
    assert any(4 in p for p in unfiltered)
    # reuse hook parity
    fps = dd.winnow_fingerprints(docs, k=8, window=4)
    via_hook = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dd.winnow_near_dups(
            docs, max_df=3, min_shared=2, fingerprints=fps
        ).collect()
    }
    assert via_hook == out
    with pytest.raises(ValueError, match="min_shared"):
        dd.winnow_near_dups(docs, min_shared=0)


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every member of a component gets the component's split (no
    cluster straddles train/test); singletons split on their own id,
    exactly matching plain hash_split for them."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 101)], "doc_id long"
    )
    comps = spark.createDataFrame(
        # two clusters: {1,2,3} -> 1, {10, 50} -> 10
        [(1, 1), (2, 1), (3, 1), (10, 10), (50, 10)],
        "doc_id long, component long",
    )
    out = {
        r["doc_id"]: (r["_split_key"], r["split"])
        for r in cur.leakage_safe_split(docs, comps).collect()
    }
    assert out[1] == out[2] == out[3]
    assert out[10] == out[50]
    plain = {
        r["doc_id"]: r["split"]
        for r in cur.hash_split(docs).collect()
    }
    for i in out:
        if i not in (1, 2, 3, 10, 50):
            assert out[i] == (str(i), plain[i])


def test_hash_split_plan_is_pure_projection(spark):
    """hash_split itself must stay a codegen'd projection — no
    aggregate, join, explode or shuffle (growth-stability claim);
    pinned here because the registered query's union now carries the
    safe arm's component machinery."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    plan = cur.hash_split(docs)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    for bad in ("HashAggregate", "Join", "Generate", "Exchange"):
        assert bad not in plan


def test_mixture_upsample_replica_counts_and_determinism(spark):
    """floor(rate) copies plus one more under the fractional bucket:
    rate 2.0 -> exactly 2 copies each; rate 0 drops the stratum; a
    fractional rate's realized count over many ids approximates the
    expectation and is bit-identical across reruns; copy indices are
    dense 0..n-1."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    docs = spark.createDataFrame(
        [(i, "fr" if i % 2 else "zh") for i in range(200)],
        "doc_id long, lang string",
    )
    out = cur.mixture_upsample(
        docs, rates={"fr": 2.0, "zh": 0.0}, default_rate=1.0
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy"])
    # zh dropped entirely, fr exactly doubled with copies [0, 1]
    assert all(i % 2 for i in by_doc)
    assert all(sorted(v) == [0, 1] for v in by_doc.values())
    # fractional: 1.5x over the fr half -> count strictly between 1x
    # and 2x, deterministic across reruns
    frac1 = cur.mixture_upsample(docs, rates={"fr": 1.5, "zh": 1.0}).count()
    frac2 = cur.mixture_upsample(docs, rates={"fr": 1.5, "zh": 1.0}).count()
    assert frac1 == frac2
    assert 200 < frac1 < 300
    with pytest.raises(ValueError, match="rate"):
        cur.mixture_upsample(docs, rates={"fr": -0.1})


def test_bigram_lm_and_stupid_backoff_closed_form(spark):
    """MLE conditionals + stupid backoff by hand: train on 'aa bb aa
    bb aa cc' -> c(aa·)=3, p(bb|aa)=2/3, p(cc|aa)=1/3, p(aa|bb)=1;
    scoring 'aa bb' gives ln(2/3); an unseen bigram with a seen second
    word backs off to ln(0.4)+ln(p_uni); an unseen word hits the
    unigram floor."""
    train = _docs(spark, [(1, "aa bb aa bb aa cc")])
    bi = tx.bigram_lm(train)
    uni = tx.unigram_lm(train)
    model = {(r["w1"], r["w2"]): r["logp"] for r in bi.collect()}
    ln = math.log
    assert model[("aa", "bb")] == pytest.approx(ln(2 / 3))
    assert model[("aa", "cc")] == pytest.approx(ln(1 / 3))
    assert model[("bb", "aa")] == pytest.approx(ln(1.0))
    docs = _docs(
        spark,
        [
            (10, "aa bb"),            # seen bigram
            (11, "cc bb"),            # unseen bigram, seen word bb
            (12, "aa zz"),            # unseen word zz -> floor
            (13, "solo"),             # single word: no pairs, no row
        ],
    )
    got = {
        r["doc_id"]: (r["n_pairs"], r["mean_logp"])
        for r in tx.doc_bigram_logprob(docs, bi, uni, alpha=0.4).collect()
    }
    # uni: p(aa)=3/6, p(bb)=2/6, p(cc)=1/6, total=6
    assert got[10] == (1, round(ln(2 / 3), 6))
    assert got[11] == (1, round(ln(0.4) + ln(2 / 6), 6))
    assert got[12] == (1, round(ln(0.4) + ln(1 / 6), 6))
    assert 13 not in got
    # word ORDER sensitivity: the scrambled twin keeps its unigram
    # score but collapses to backoff under the bigram model
    fwd = tx.doc_bigram_logprob(
        _docs(spark, [(1, "aa bb aa bb")]), bi, uni
    ).collect()[0]["mean_logp"]
    rev = tx.doc_bigram_logprob(
        _docs(spark, [(1, "bb bb aa aa")]), bi, uni
    ).collect()[0]["mean_logp"]
    assert fwd > rev
    with pytest.raises(ValueError, match="alpha"):
        tx.doc_bigram_logprob(docs, bi, uni, alpha=0.0)


def test_mixing_triple_composes_end_to_end(spark):
    """The full mixing recipe composes: temperature_rates picks the
    targets, rates < 1 materialize through mixture_sample, rates > 1
    through mixture_upsample, and leakage_safe_split keys the final
    split on dedup components — with the realized composition pulled
    toward flat and no component straddling splits."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    # 10:1 skew between strata
    docs = spark.createDataFrame(
        [(i, "en" if i < 400 else "zh", 10) for i in range(440)],
        "doc_id long, lang string, nt long",
    )
    rates = {
        r["stratum"]: r["rate"]
        for r in cur.temperature_rates(
            docs, alpha=0.5, token_col="nt"
        ).collect()
    }
    # alpha=0.5 on a 10:1 split: big stratum keeps sqrt(1/10)~0.316
    assert rates["zh"] == 1.0 and 0.25 < rates["en"] < 0.4
    down = cur.mixture_sample(
        docs, rates={k: v for k, v in rates.items() if v < 1.0},
        default_rate=1.0,
    )
    mixed = cur.mixture_upsample(
        down.drop("sample_bucket"),
        rates={k: v for k, v in rates.items() if v > 1.0},
        default_rate=1.0,
    )
    counts = {
        r["lang"]: r["count"]
        for r in mixed.groupBy("lang").count().collect()
    }
    # realized skew pulled from 10:1 toward ~3.2:1
    assert 2.0 < counts["en"] / counts["zh"] < 5.0
    # dedup-aware split on top: planted components stay together
    comps = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], "doc_id long, component long"
    )
    final = cur.leakage_safe_split(mixed, comps)
    splits = {
        r["doc_id"]: r["split"]
        for r in final.select("doc_id", "split").distinct().collect()
    }
    present = [i for i in (0, 1, 2) if i in splits]
    assert len({splits[i] for i in present}) <= 1


def test_update_minhash_store_matches_full_recompute(spark):
    """Incremental store maintenance == full recompute: after an
    add/change/remove churn, the updated store is row-identical to
    minhash_signatures over the new corpus, and unchanged docs keep
    their original signature rows."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    old = _docs(
        spark,
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta"), (3, "old text here")],
    )
    new = _docs(
        spark,
        [
            (1, "alpha beta gamma"),        # unchanged
            (2, "delta epsilon CHANGED"),   # changed
            (4, "brand new document"),      # added; 3 removed
        ],
    )
    store = dd.minhash_signatures(old, num_perm=8)
    diff = cur.dataset_diff(old, new)
    updated = sorted(
        tuple(r) for r in dd.update_minhash_store(
            store, diff, new, num_perm=8
        ).collect()
    )
    full = sorted(
        tuple(r) for r in dd.minhash_signatures(new, num_perm=8).collect()
    )
    assert updated == full
    ids = {r[0] for r in updated}
    assert ids == {1, 2, 4}


def test_winnow_guarantee_randomized(spark):
    """Property sweep of the Schleimer guarantee in one job: for 25
    random doc pairs with a shared substring of exactly window+k-1
    chars (the minimum covered length) planted at random offsets in
    otherwise-random text, every pair shares at least one fingerprint
    value."""
    import random
    import string

    rng = random.Random(42)

    def rand_text(n):
        return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))

    k, w = 8, 4
    rows = []
    for p in range(25):
        shared = rand_text(w + k - 1)  # exactly the guarantee floor
        a = rand_text(rng.randint(0, 40)) + shared + rand_text(rng.randint(0, 40))
        b = rand_text(rng.randint(0, 40)) + shared + rand_text(rng.randint(0, 40))
        rows.append((2 * p, a))
        rows.append((2 * p + 1, b))
    docs = _docs(spark, rows)
    by_doc: dict[int, set] = {}
    for r in dd.winnow_fingerprints(docs, k=k, window=w).collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    for p in range(25):
        assert by_doc[2 * p] & by_doc[2 * p + 1], f"pair {p} shares nothing"


def test_curate_corpus_budget_and_safe_split_stages(spark):
    """The optional round-9 stages compose into the one-call pipeline:
    token_budget keeps the best survivors by rounded score until the
    budget fills (a strict subset of the unbudgeted manifest, highest
    scores first); safe_split reproduces the default split for
    survivors (keepers ARE their components' min ids) while keying on
    the component — and defaults leave the original manifest
    byte-identical."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    docs = _docs(
        spark,
        [
            (i, f"the quick document number {i} talks about topic "
                f"{'alpha' if i % 2 else 'beta'} with enough words here")
            for i in range(40)
        ]
        + [(100, "the quick document number 1 talks about topic alpha "
                  "with enough words here")],  # near-dup of nothing: unique
    )
    bench = _docs(spark, [(9000, "held out benchmark text entirely disjoint")])
    base = {
        r["doc_id"]: (r["quality_score"], r["split"])
        for r in cur.curate_corpus(docs, bench).collect()
    }
    # defaults unchanged: rerun equals itself and exercises no new stage
    again = {
        r["doc_id"]: (r["quality_score"], r["split"])
        for r in cur.curate_corpus(docs, bench).collect()
    }
    assert base == again and base
    budgeted = {
        r["doc_id"]
        for r in cur.curate_corpus(docs, bench, token_budget=150).collect()
    }
    assert budgeted and budgeted < set(base)
    safe = {
        r["doc_id"]: (r["quality_score"], r["split"])
        for r in cur.curate_corpus(docs, bench, safe_split=True).collect()
    }
    assert safe == base  # survivors are keepers: component == own id


def test_strip_markup_tags_entities_whitespace(spark):
    """Tags removed, entities decoded AFTER tag removal (so a decoded
    <tag> stays literal text and &amp;lt; cannot double-decode),
    whitespace collapsed/trimmed; markup-free text passes through
    byte-identical."""
    df = spark.createDataFrame(
        [
            (1, "<p>Hello <b>world</b></p>"),
            (2, "a &lt;tag&gt; and &amp; &quot;quotes&quot;"),
            (3, "&amp;lt; stays escaped-once"),
            (4, "plain text untouched"),
            (5, "<div   class='x'>y</div>"),
        ],
        "id long, text string",
    )
    got = {
        r["id"]: r["out"]
        for r in df.select(
            "id", tx.strip_markup(F.col("text")).alias("out")
        ).collect()
    }
    assert got[1] == "Hello world"
    assert got[2] == 'a <tag> and & "quotes"'
    assert got[3] == "&lt; stays escaped-once"
    assert got[4] == "plain text untouched"
    assert got[5] == "y"


def test_epoch_shuffle_key_reproducible_and_epoch_independent(spark):
    """Same epoch -> identical order across invocations; different
    epochs -> different orders; the key is a pure projection (no
    shuffle/agg in its plan)."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")

    def order(epoch):
        return [
            r["doc_id"]
            for r in docs.orderBy(
                cur.epoch_shuffle_key(F.col("doc_id"), epoch)
            ).collect()
        ]

    e0a, e0b, e1 = order(0), order(0), order(1)
    assert e0a == e0b
    assert e0a != e1
    assert sorted(e0a) == sorted(e1) == list(range(200))
    # it actually shuffles (not identity order)
    assert e0a != list(range(200))
    plan = docs.select(
        cur.epoch_shuffle_key(F.col("doc_id"), 3).alias("k")
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    for bad in ("Exchange", "HashAggregate", "Join"):
        assert bad not in plan


def test_edit_similarity_pairs_known_distances_and_empty(spark):
    """Hand-computed Levenshtein on candidate pairs; both-empty pairs
    are similarity 1.0; the similarity is 1 - d/max(len)."""
    docs = spark.createDataFrame(
        [
            (1, "kitten"),
            (2, "sitting"),  # lev(kitten, sitting) = 3
            (3, "kitten"),  # exact dup of 1
            (4, ""),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["edit_distance"], r["edit_sim"])
        for r in dd.edit_similarity_pairs(cands, docs).collect()
    }
    assert got[(1, 2)] == (3, round(1 - 3 / 7, 6))
    assert got[(1, 3)] == (0, 1.0)
    assert got[(4, 5)] == (0, 1.0)
    # threshold filter drops the distant pair
    kept = dd.edit_similarity_pairs(cands, docs, min_similarity=0.9)
    assert {(r["id_a"], r["id_b"]) for r in kept.collect()} == {
        (1, 3),
        (4, 5),
    }
    with pytest.raises(ValueError):
        dd.edit_similarity_pairs(cands, docs, min_similarity=1.5)


def test_edit_similarity_pairs_prefix_cap_and_bounded_form(spark):
    """prefix_chars compares fixed prefixes; with min_similarity set,
    the bounded levenshtein early-exit must never drop a qualifying
    pair and must drop every over-threshold pair (its -1 sentinel may
    not leak into the output)."""
    docs = spark.createDataFrame(
        [
            (1, "aaaaaaaaaa" + "X" * 90),
            (2, "aaaaaaaaaa" + "Y" * 90),  # identical 10-char prefix
            (3, "zzzzzzzzzz" + "X" * 90),  # all-diff prefix vs 1
        ],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    out = dd.edit_similarity_pairs(
        cands, docs, min_similarity=0.5, prefix_chars=10
    )
    rows = {(r["id_a"], r["id_b"]): r for r in out.collect()}
    assert set(rows) == {(1, 2)}
    assert rows[(1, 2)]["edit_distance"] == 0
    assert rows[(1, 2)]["edit_sim"] == 1.0
    # boundary: distance exactly at the bound survives (bound = 5)
    docs2 = spark.createDataFrame(
        [(1, "aaaaaaaaaa"), (2, "aaaaabbbbb")],  # lev = 5, sim = 0.5
        "doc_id long, text string",
    )
    out2 = dd.edit_similarity_pairs(
        spark.createDataFrame([(1, 2)], "id_a long, id_b long"),
        docs2,
        min_similarity=0.5,
        prefix_chars=10,
    ).collect()
    assert len(out2) == 1 and out2[0]["edit_distance"] == 5
    assert all(r["edit_distance"] >= 0 for r in out2)


def test_weighted_sample_matches_independent_replay(spark):
    """The selected set, order and keys must equal an independent
    hashlib replay of the A-Res math (md5 uniform, ln(u)/w key, 6dp
    round, id tie-break)."""
    import hashlib
    import math

    from privacy_cdc_lakehouse_spark.operators import curation as cur

    rows = [(i, float(1 + (i * 7) % 13)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, weight double")
    got = [
        (r["doc_id"], r["es_key"], r["sample_rank"])
        for r in cur.weighted_sample(df, 25, "weight")
        .orderBy("sample_rank")
        .collect()
    ]

    def key(i, w):
        h = hashlib.md5(f"wrs|{i}".encode()).hexdigest()
        u = (int(h[:13], 16) + 1) / 2.0 ** 52
        return round(math.log(u) / w, 6)

    expected = sorted(
        ((i, key(i, w)) for i, w in rows), key=lambda t: (-t[1], t[0])
    )[:25]
    assert got == [(i, k, r + 1) for r, (i, k) in enumerate(expected)]


def test_weighted_sample_properties(spark):
    """A dominating weight is always drawn first; zero/negative/NULL
    weights never selected; k >= n returns every positive-weight row;
    k <= 0 refused; the plan is TakeOrdered, not a global sort."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    rows = [(i, 1.0) for i in range(100)] + [(100, 1e9), (101, 0.0), (102, -1.0), (103, None)]
    df = spark.createDataFrame(rows, "doc_id long, weight double")
    top = cur.weighted_sample(df, 10, "weight").orderBy("sample_rank").collect()
    assert top[0]["doc_id"] == 100
    allk = cur.weighted_sample(df, 500, "weight")
    ids = {r["doc_id"] for r in allk.collect()}
    assert len(ids) == 101 and not {101, 102, 103} & ids
    with pytest.raises(ValueError):
        cur.weighted_sample(df, 0, "weight")
    plan = cur.weighted_sample(df, 10, "weight")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_retrieval_metrics_hand_computed(spark):
    """recall@k / MRR / binary NDCG@k against hand-computed values,
    including a zero-hit query, a query missing from results, and the
    |relevant| < k ideal truncation."""
    import math

    results = spark.createDataFrame(
        # q1: relevant at ranks 1 and 3 (of k=3); q2: none relevant
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1), (2, 21, 2), (2, 22, 3)],
        "query_id long, neighbor_id long, rank long",
    )
    qrels = spark.createDataFrame(
        # q1 has 3 relevant (one never retrieved); q2 has 1; q3 only in qrels
        [(1, 10), (1, 12), (1, 99), (2, 98), (3, 97)],
        "query_id long, neighbor_id long",
    )
    got = {
        r["query_id"]: (r["recall_at_k"], r["mrr"], r["ndcg_at_k"])
        for r in sim.retrieval_metrics(results, qrels, k=3).collect()
    }
    dcg1 = 1 / math.log2(2) + 1 / math.log2(4)
    idcg1 = sum(1 / math.log2(i + 1) for i in (1, 2, 3))
    assert got[1] == (
        round(2 / 3, 6),
        1.0,
        round(dcg1 / idcg1, 6),
    )
    assert got[2] == (0.0, 0.0, 0.0)
    assert got[3] == (0.0, 0.0, 0.0)
    # |relevant| < k: perfect single hit at rank 1 is NDCG 1.0
    res2 = spark.createDataFrame(
        [(9, 5, 1), (9, 6, 2)], "query_id long, neighbor_id long, rank long"
    )
    qr2 = spark.createDataFrame([(9, 5)], "query_id long, neighbor_id long")
    row = sim.retrieval_metrics(res2, qr2, k=2).collect()[0]
    assert (row["recall_at_k"], row["mrr"], row["ndcg_at_k"]) == (1.0, 1.0, 1.0)
    with pytest.raises(ValueError):
        sim.retrieval_metrics(res2, qr2, k=0)


def test_sample_negatives_ring_semantics(spark):
    """Negatives are the k clockwise ring successors; deterministic,
    positives excluded, bucketed two-phase == naive replay."""
    import hashlib

    from privacy_cdc_lakehouse_spark.operators import curation as cur

    corpus = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    queries = spark.createDataFrame([(i,) for i in (1, 7, 42)], "query_id long")
    positives = spark.createDataFrame(
        [(1, 1), (7, 7), (42, 42)], "query_id long, doc_id long"
    )
    out = cur.sample_negatives(
        queries, corpus, k=5, positives=positives, oversample=8
    )
    got = {
        (r["query_id"], r["neg_rank"]): r["doc_id"] for r in out.collect()
    }

    def u(tag, x):
        h = hashlib.md5(f"neg-{tag}|{x}".encode()).hexdigest()
        return int(h[:13], 16) / 2.0**52

    w = min(1.0, 8 * 5 / 200)
    for q in (1, 7, 42):
        a = u("q", q)
        cands = sorted(
            ((u("d", d) - a) % 1.0, d)
            for d in range(200)
            if ((u("d", d) - a) % 1.0) < w and d != q
        )
        expected = [d for _, d in cands[:5]]
        assert [got[(q, r)] for r in range(1, len(expected) + 1)] == expected
    # exclusion: no query received itself
    assert all(got[(q, r)] != q for (q, r) in got)
    # determinism: a second run is identical
    again = {
        (r["query_id"], r["neg_rank"]): r["doc_id"]
        for r in cur.sample_negatives(
            queries, corpus, k=5, positives=positives, oversample=8
        ).collect()
    }
    assert again == got


def test_sample_negatives_consistent_under_corpus_growth(spark):
    """Consistent-hashing property: adding docs only inserts ring
    points — surviving negatives keep their relative order."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    small = spark.createDataFrame([(i,) for i in range(150)], "doc_id long")
    grown = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    queries = spark.createDataFrame([(3,)], "query_id long")
    # fix the window parameters so growth does not change the ring math
    a = cur.sample_negatives(queries, small, k=8, oversample=4)
    b = cur.sample_negatives(queries, grown, k=8, oversample=8)  # same w
    keep_a = [r["doc_id"] for r in a.orderBy("neg_rank").collect()]
    keep_b = [r["doc_id"] for r in b.orderBy("neg_rank").collect()]
    shared = [d for d in keep_b if d in set(keep_a)]
    assert shared == [d for d in keep_a if d in set(keep_b)]  # order kept


def test_sample_negatives_validation(spark):
    import pytest

    from privacy_cdc_lakehouse_spark.operators import curation as cur

    docs = spark.createDataFrame([(1,)], "doc_id long")
    qs = spark.createDataFrame([(1,)], "query_id long")
    with pytest.raises(ValueError):
        cur.sample_negatives(qs, docs, k=0)
    with pytest.raises(ValueError):
        cur.sample_negatives(qs, docs.filter("doc_id < 0"), k=1)


def test_sample_negatives_no_duplicates_on_tiny_corpus(spark):
    """Round-10 advice regression: when the candidate window wraps the
    whole ring (corpus smaller than ~3*oversample*k -> n_buckets <= 2),
    pmod aliases two exploded bucket values to the same bucket; without
    the bucket dedup each doc in that bucket joined twice and claimed
    two neg_rank slots. Two-phase == naive must hold even here."""
    import hashlib

    from privacy_cdc_lakehouse_spark.operators import curation as cur

    corpus = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    queries = spark.createDataFrame([(i,) for i in range(10)], "query_id long")
    out = cur.sample_negatives(queries, corpus, k=5, oversample=8).collect()
    pairs = [(r["query_id"], r["doc_id"]) for r in out]
    assert len(pairs) == len(set(pairs)), "duplicate (query, doc) negatives"
    # each query still gets exactly k DISTINCT docs (w == 1.0 here)
    from collections import Counter

    per_q = Counter(q for q, _ in pairs)
    assert all(n == 5 for n in per_q.values())

    def u(tag, x):
        h = hashlib.md5(f"neg-{tag}|{x}".encode()).hexdigest()
        return int(h[:13], 16) / 2.0**52

    got = {
        (r["query_id"], r["neg_rank"]): r["doc_id"] for r in out
    }
    for q in range(10):
        a = u("q", q)
        cands = sorted(((u("d", d) - a) % 1.0, d) for d in range(50))
        expected = [d for _, d in cands[:5]]
        assert [got[(q, r)] for r in range(1, 6)] == expected


def test_candidate_hint_auto_flips_off_past_threshold(spark, monkeypatch):
    """'auto' broadcasts bounded candidate sets and degrades (no hint)
    past AUTO_BROADCAST_MAX_CANDIDATES — the round-10 verdict's
    OOM-instead-of-degrade closure. Results must be identical either
    way."""
    from privacy_cdc_lakehouse_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 3} epsilon zeta eta theta")
         for i in range(30)],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(a, b) for a in range(0, 30, 3) for b in range(a + 3, 30, 3)],
        "id_a long, id_b long",
    )
    _, hint = dd._candidate_hint(cands, "auto")
    assert hint is dd.F.broadcast  # bounded set: hinted

    monkeypatch.setattr(dd, "AUTO_BROADCAST_MAX_CANDIDATES", 5)
    _, hint2 = dd._candidate_hint(cands, "auto")
    assert hint2 is not dd.F.broadcast  # adversarial set: un-hinted

    # the adversarial (un-hinted) path survives end-to-end and matches
    key = lambda rows: sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in rows)
    auto = key(dd.ngram_jaccard_pairs(docs, cands, threshold=0.1).collect())
    forced = key(
        dd.ngram_jaccard_pairs(
            docs, cands, threshold=0.1, broadcast_candidates=True
        ).collect()
    )
    assert auto == forced and len(auto) > 0

    edit_auto = sorted(
        tuple(r) for r in dd.edit_similarity_pairs(cands, docs).collect()
    )
    edit_forced = sorted(
        tuple(r)
        for r in dd.edit_similarity_pairs(
            cands, docs, broadcast_candidates=False
        ).collect()
    )
    assert edit_auto == edit_forced and len(edit_auto) > 0

    import pytest

    with pytest.raises(ValueError, match="broadcast_candidates"):
        dd._candidate_hint(cands, "always")


def test_bm25_topk_semantics(spark):
    """BM25: rarer matched terms score higher; matching more query
    terms beats fewer at equal tf; determinism via rounded-score rank
    with id tie-break; k validated."""
    from privacy_cdc_lakehouse_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple apple apple"),
            (3, "banana banana durian"),
            (4, "cherry durian apple banana"),
            (5, "elderberry fig grape"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(0, ["apple", "durian"])], "query_id int, terms array<string>"
    )
    out = tx.bm25_topk(docs, qs, k=10).orderBy("rank").collect()
    got = {r["doc_id"]: r for r in out}
    assert 5 not in got  # no query term -> no row
    assert got[4]["n_hit_terms"] == 2  # both terms hit
    # doc 4 matches both query terms; docs 1/2 only 'apple' (df=3),
    # doc 3 only 'durian' (df=2, rarer -> higher idf)
    assert out[0]["doc_id"] == 4
    assert all(r["score6"] > 0 for r in out)
    # deterministic re-run
    again = tx.bm25_topk(docs, qs, k=10).orderBy("rank").collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]

    import pytest

    with pytest.raises(ValueError, match="k must be positive"):
        tx.bm25_topk(docs, qs, k=0)


def test_kneser_ney_is_a_proper_distribution(spark):
    """For every seen context w1, P_KN(.|w1) sums to 1 over the
    continuation vocabulary — the property that distinguishes real KN
    from ad-hoc backoff; plus known-value and OOV-path checks."""
    import math

    from privacy_cdc_lakehouse_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (0, "san francisco is big"),
            (2, "new york is big"),
            (4, "san diego is new"),
        ],
        "doc_id long, text string",
    )
    D = 0.75
    big, ctx, cont = tx.kneser_ney_bigram_lm(docs, discount=D)
    b = {(r["w1"], r["w2"]): r["n12"] for r in big.collect()}
    c = {r["w1"]: (r["n1"], r["lam"]) for r in ctx.collect()}
    q = {r["w2"]: r["pcont"] for r in cont.collect()}
    assert abs(sum(q.values()) - 1.0) < 1e-12  # pcont is a distribution
    for w1, (n1, lam) in c.items():
        total = sum(
            max(b.get((w1, w2), 0) - D, 0.0) / n1 + lam * pc
            for w2, pc in q.items()
        )
        assert abs(total - 1.0) < 1e-9, (w1, total)
    # 'san' has n1=2, two distinct continuations -> lam = .75*2/2
    assert c["san"][0] == 2 and abs(c["san"][1] - 0.75) < 1e-12
    # scoring: seen bigram, unseen bigram w/ seen context, unseen w1, OOV w2
    scored = {
        r["doc_id"]: r
        for r in tx.doc_kn_logprob(
            spark.createDataFrame(
                [(0, "san francisco"), (1, "san york"), (2, "zzz is"),
                 (3, "is qqq")],
                "doc_id long, text string",
            ),
            big, ctx, cont, discount=D,
        ).collect()
    }
    p_sf = max(b[("san", "francisco")] - D, 0) / 2 + 0.75 * q["francisco"]
    assert scored[0]["mean_logp"] == round(math.log(p_sf), 6)
    p_sy = 0 / 2 + 0.75 * q["york"]
    assert scored[1]["mean_logp"] == round(math.log(p_sy), 6)
    assert scored[2]["mean_logp"] == round(math.log(q["is"]), 6)
    assert scored[3]["mean_logp"] == round(
        math.log(c["is"][1] * 1e-10), 6
    )

    import pytest

    with pytest.raises(ValueError, match="discount"):
        tx.kneser_ney_bigram_lm(docs, discount=1.5)


def test_mmr_rerank_diversifies(spark):
    """MMR: first pick = max relevance; a near-duplicate of the first
    pick is demoted below a less-relevant-but-diverse doc; short
    candidate lists return what they have; validation."""
    from privacy_cdc_lakehouse_spark.operators import similarity as sim

    # doc 1 and 2 nearly identical vectors (cos ~ 1); doc 3 orthogonal
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.04, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cands = spark.createDataFrame(
        [(0, 1, 0.95), (0, 2, 0.94), (0, 3, 0.70)],
        "query_id long, neighbor_id long, cos_sim double",
    )
    out = {
        r["mmr_rank"]: r["neighbor_id"]
        for r in sim.mmr_rerank(cands, vecs, k=3, lambda_=0.5).collect()
    }
    # pure relevance would give 1, 2, 3; MMR at lambda=.5 demotes the
    # near-dup 2 below the orthogonal 3
    assert out == {1: 1, 2: 3, 3: 2}
    # lambda=1.0 is pure relevance
    rel_only = {
        r["mmr_rank"]: r["neighbor_id"]
        for r in sim.mmr_rerank(cands, vecs, k=3, lambda_=1.0).collect()
    }
    assert rel_only == {1: 1, 2: 2, 3: 3}
    # k beyond the list: 3 rows, not 5
    assert sim.mmr_rerank(cands, vecs, k=5).count() == 3

    import pytest

    with pytest.raises(ValueError, match="lambda_"):
        sim.mmr_rerank(cands, vecs, k=2, lambda_=1.5)
    with pytest.raises(ValueError, match="k must be"):
        sim.mmr_rerank(cands, vecs, k=0)


def test_mmr_rerank_matches_python_reference_randomized(spark):
    """Randomized parity: the distributed greedy == a pure-Python MMR
    over md5-derived vectors/relevances (deterministic fixtures — the
    repo's seeded-randomness contract)."""
    import hashlib
    import math

    from privacy_cdc_lakehouse_spark.operators import similarity as sim

    def u(tag, i, j=0):
        h = hashlib.md5(f"mmrtest-{tag}|{i}|{j}".encode()).hexdigest()
        return int(h[:13], 16) / 2.0**52

    n_docs, dim, lam, k = 25, 6, 0.75, 6
    vecs = {d: [u("v", d, j) - 0.5 for j in range(dim)] for d in range(n_docs)}
    cands = {q: [(d, round(u("r", q, d), 4)) for d in range(n_docs)]
             for q in range(3)}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na * nb > 0 else 0.0

    def py_mmr(q):
        remaining = dict(cands[q])
        maxsim = {d: 0.0 for d in remaining}
        picks = []
        for _ in range(k):
            if not remaining:
                break
            best = min(
                remaining,
                key=lambda d: (-round(lam * remaining[d]
                                      - (1 - lam) * maxsim[d], 6), d),
            )
            picks.append(best)
            bv = vecs[best]
            del remaining[best]
            for d in remaining:
                maxsim[d] = max(maxsim[d], cos(vecs[d], bv))
        return picks

    vdf = spark.createDataFrame(
        [(d, vecs[d]) for d in range(n_docs)],
        "vec_id long, embedding array<double>",
    )
    cdf = spark.createDataFrame(
        [(q, d, r) for q, lst in cands.items() for d, r in lst],
        "query_id long, neighbor_id long, cos_sim double",
    )
    got = {}
    for r in sim.mmr_rerank(cdf, vdf, k=k, lambda_=lam).collect():
        got.setdefault(r["query_id"], {})[r["mmr_rank"]] = r["neighbor_id"]
    for q in range(3):
        expected = py_mmr(q)
        assert [got[q][i] for i in range(1, len(expected) + 1)] == expected
    # the lineage-bounding localCheckpoint is invisible: a
    # boundary-crossing cadence (k=6 > 2) and off both reproduce the
    # default-cadence picks bit-identically
    for ce in (0, 2):
        got2 = {}
        for r in sim.mmr_rerank(
            cdf, vdf, k=k, lambda_=lam, checkpoint_every=ce
        ).collect():
            got2.setdefault(r["query_id"], {})[r["mmr_rank"]] = r["neighbor_id"]
        assert got2 == got


def test_rouge_n_matches_python_reference_randomized(spark):
    """Randomized parity: clipped n-gram F == a pure-Python Counter
    implementation over deterministic word soups."""
    import hashlib
    from collections import Counter

    from privacy_cdc_lakehouse_spark.operators import text as tx

    words_pool = ["aa", "bb", "cc", "dd", "ee"]

    def soup(tag, i, n_words):
        out = []
        for j in range(n_words):
            h = hashlib.md5(f"rn-{tag}|{i}|{j}".encode()).hexdigest()
            out.append(words_pool[int(h[:4], 16) % len(words_pool)])
        return out

    pairs = [(i, " ".join(soup("c", i, 8 + i % 5)),
              " ".join(soup("r", i, 10 + i % 3))) for i in range(20)]

    def py_rouge(c, r, n):
        cw, rw = c.split(), r.split()
        cg = Counter(tuple(cw[i:i + n]) for i in range(len(cw) - n + 1))
        rg = Counter(tuple(rw[i:i + n]) for i in range(len(rw) - n + 1))
        m = sum(min(cg[g], rg[g]) for g in cg)
        cn, rn = sum(cg.values()), sum(rg.values())
        if m == 0:
            return 0.0
        p, rr = m / cn, m / rn
        return round(2 * p * rr / (p + rr), 6)

    df = spark.createDataFrame(pairs, "pair_id long, cand string, ref string")
    for n in (1, 2, 3):
        got = {r["pair_id"]: r["rouge_f"]
               for r in tx.rouge_n(df, n=n).collect()}
        for pid, c, r in pairs:
            assert got[pid] == py_rouge(c, r, n), (n, pid)


def test_candidate_hint_auto_truncates_lineage_and_accepts_known_count(
    spark, monkeypatch
):
    """'auto' must materialize the candidate lineage exactly ONCE
    (round-11 advice: no re-evaluation for the count) and return a
    plan-TRUNCATED frame (round-15: localCheckpoint — downstream
    verify joins carry a LogicalRDD, not a re-inlined LSH pipeline).
    The caller's own frame is left untouched. A caller-known int count
    resolves with no job and no checkpoint."""
    from privacy_cdc_lakehouse_spark.operators import dedup as dd

    cands = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    out, hint = dd._candidate_hint(cands, "auto")
    assert hint is dd.F.broadcast
    # returned frame is checkpoint-backed: its analyzed plan is an RDD
    # scan, not the original LocalRelation lineage
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan
    assert not cands.storageLevel.useMemory  # caller frame untouched
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2), (3, 4)]

    monkeypatch.setattr(dd, "AUTO_BROADCAST_MAX_CANDIDATES", 1)
    out2, hint2 = dd._candidate_hint(cands, "auto")
    assert hint2 is not dd.F.broadcast
    assert sorted(tuple(r) for r in out2.collect()) == [(1, 2), (3, 4)]
    # caller-known candidate count: same threshold, no count job, and
    # the frame passes through with its original plan
    same, h_small = dd._candidate_hint(cands, 1)
    assert h_small is dd.F.broadcast and same is cands
    same2, h_big = dd._candidate_hint(cands, 10**9)
    assert h_big is not dd.F.broadcast and same2 is cands


def test_perplexity_buckets_matches_python_and_degenerate(spark):
    """CCNet head/middle/tail bucketing: the fixed-grid histogram
    thresholds must match a pure-Python replay of the same arithmetic;
    bucket shares approximate the requested terciles; a constant-score
    corpus degenerates to all-head."""
    import math

    from privacy_cdc_lakehouse_spark.operators import text as tx

    n = 300
    scores = [(i, round(math.sin(i) * 5.0 - 7.0, 6)) for i in range(n)]
    df = spark.createDataFrame(scores, "doc_id long, mean_logp double")
    got = {
        r["doc_id"]: r["ppl_bucket"]
        for r in tx.perplexity_buckets(df, n_bins=100).collect()
    }

    lo, hi = min(s for _, s in scores), max(s for _, s in scores)
    width = (hi - lo) / 100.0
    def bin_of(s):
        return max(0, min(99, int(math.floor((s - lo) / width))))
    counts = {}
    for _, s in scores:
        counts[bin_of(s)] = counts.get(bin_of(s), 0) + 1
    cum, acc, t = {}, 0, {}
    for b in sorted(counts):
        acc += counts[b]
        cum[b] = acc / n
    b1 = min(b for b in cum if cum[b] >= 1.0 / 3.0)
    b2 = min(b for b in cum if cum[b] >= 2.0 / 3.0)
    t1, t2 = lo + (b1 + 1) * width, lo + (b2 + 1) * width
    expect = {
        i: ("head" if s > t2 else "middle" if s > t1 else "tail")
        for i, s in scores
    }
    assert got == expect
    shares = {b: sum(1 for v in got.values() if v == b) / n
              for b in ("head", "middle", "tail")}
    assert all(0.2 < shares[b] < 0.47 for b in shares)

    const = spark.createDataFrame(
        [(i, -3.5) for i in range(10)], "doc_id long, mean_logp double"
    )
    cg = tx.perplexity_buckets(const).collect()
    assert all(r["ppl_bucket"] == "head" for r in cg) and len(cg) == 10

    import pytest

    with pytest.raises(ValueError, match="n_bins"):
        tx.perplexity_buckets(df, n_bins=1)
    with pytest.raises(ValueError, match="shares"):
        tx.perplexity_buckets(df, shares=(0.5,))


def test_hard_negatives_ranks_and_antijoin(spark):
    """hard_negatives: positives never appear, picks are the k
    highest-scoring remaining docs per query in (rounded score desc,
    doc id) order."""
    from privacy_cdc_lakehouse_spark.operators import curation as cur

    cands = spark.createDataFrame(
        [(1, d, 1.0 - d * 0.01) for d in range(10)]
        + [(2, d, 0.5 + (d % 3) * 0.1) for d in range(6)],
        "query_id long, doc_id long, score double",
    )
    pos = spark.createDataFrame(
        [(1, 0), (1, 1), (2, 2)], "query_id long, doc_id long"
    )
    got = {}
    for r in cur.hard_negatives(cands, pos, k=3).collect():
        got.setdefault(r["query_id"], []).append((r["hn_rank"], r["doc_id"]))
    assert sorted(got[1]) == [(1, 2), (2, 3), (3, 4)]  # 0,1 excluded
    # q2 scores: d0 .5, d1 .6, d2 .7(pos), d3 .5, d4 .6, d5 .7 ->
    # remaining ranked: d5(.7), d1(.6), d4(.6) with id tie-break
    assert sorted(got[2]) == [(1, 5), (2, 1), (3, 4)]
    import pytest

    with pytest.raises(ValueError, match="k must be"):
        cur.hard_negatives(cands, pos, k=0)


def test_chrf_matches_python_reference_randomized(spark):
    """Randomized parity: distributed chrF (orders 1..6, beta=2,
    whitespace stripped, effective-order averaging) == a pure-Python
    Counter reference; plus the classic edges (identical -> 1.0,
    disjoint -> 0.0, empty sides -> 0.0)."""
    import hashlib
    from collections import Counter

    from privacy_cdc_lakehouse_spark.operators import text as tx

    pool = "abcdef gh"

    def soup(tag, i, ln):
        out = []
        for j in range(ln):
            h = hashlib.md5(f"chrf-{tag}|{i}|{j}".encode()).hexdigest()
            out.append(pool[int(h[:4], 16) % len(pool)])
        return "".join(out)

    pairs = [(i, soup("c", i, 15 + i % 7), soup("r", i, 18 + i % 5))
             for i in range(20)]
    pairs += [(100, "the cat", "the cat"), (101, "aaaa", "bbbb"),
              (102, "", "xy"), (103, " ", " ")]

    def py_chrf(cand, ref, max_order=6, beta=2.0):
        c, r = cand.replace(" ", ""), ref.replace(" ", "")
        sp = sr = eff = 0
        for n in range(1, max_order + 1):
            cg = Counter(c[i:i + n] for i in range(len(c) - n + 1))
            rg = Counter(r[i:i + n] for i in range(len(r) - n + 1))
            cn, rn = sum(cg.values()), sum(rg.values())
            if cn + rn == 0:
                continue
            eff += 1
            m = sum(min(cg[g], rg[g]) for g in cg)
            sp += m / cn if cn else 0.0
            sr += m / rn if rn else 0.0
        if eff == 0:
            return 0.0
        p, r_ = sp / eff, sr / eff
        if p + r_ == 0:
            return 0.0
        b2 = beta * beta
        return round((1 + b2) * p * r_ / (b2 * p + r_), 6)

    df = spark.createDataFrame(pairs, "pair_id long, cand string, ref string")
    got = {r["pair_id"]: r for r in tx.chrf(df).collect()}
    for pid, cand, ref in pairs:
        assert got[pid]["chrf"] == py_chrf(cand, ref), (pid, cand, ref)
    assert got[100]["chrf"] == 1.0
    assert got[101]["chrf"] == 0.0  # disjoint alphabets: zero overlap
    assert got[102]["chrf"] == 0.0 and got[102]["eff_orders"] > 0
    assert got[103]["chrf"] == 0.0 and got[103]["eff_orders"] == 0
    import pytest

    with pytest.raises(ValueError, match="max_order"):
        tx.chrf(df, max_order=0)
    with pytest.raises(ValueError, match="beta"):
        tx.chrf(df, beta=0.0)


def test_rrf_fuse_known_values_and_topk(spark):
    """RRF: score = sum over rankers of 1/(k+rank); docs in both lists
    outrank docs in one; rank-over-rounded with doc-id tie-break;
    top_k truncates per query."""
    from privacy_cdc_lakehouse_spark.operators import similarity as sim

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, neighbor_id long, rank long",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (1, 10, 3)],
        "query_id long, neighbor_id long, rank long",
    )
    got = {r["doc_id"]: r for r in sim.rrf_fuse([a, b], k=60).collect()}
    assert got[11]["rrf_score"] == round(1 / 62 + 1 / 61, 6)
    assert got[10]["rrf_score"] == round(1 / 61 + 1 / 63, 6)
    assert got[12]["rrf_score"] == round(1 / 63, 6)
    assert got[13]["rrf_score"] == round(1 / 62, 6)
    assert got[11]["n_rankers"] == 2 and got[12]["n_rankers"] == 1
    # fused order: 11 (both, best ranks) > 10 (both) > 13 > 12
    assert [got[d]["rrf_rank"] for d in (11, 10, 13, 12)] == [1, 2, 3, 4]
    top2 = sim.rrf_fuse([a, b], k=60, top_k=2).collect()
    assert sorted(r["doc_id"] for r in top2) == [10, 11]
    import pytest

    with pytest.raises(ValueError, match="rankings"):
        sim.rrf_fuse([])
    with pytest.raises(ValueError, match="k must be"):
        sim.rrf_fuse([a], k=0)


def test_containment_catches_subset_duplication(spark):
    from privacy_cdc_lakehouse_spark.operators import dedup as dd

    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "totally different text here entirely")],
        "doc_id long, text string",
    )
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    out = {
        (r["id_a"], r["id_b"]): r
        for r in dd.ngram_jaccard_pairs(
            docs, cands, threshold=0.8, with_containment=True
        ).collect()
    }
    # the embedded doc: full containment, low jaccard
    r = out[(1, 2)]
    assert r["cont_a"] == 1.0 and r["overlap"] == 1.0
    assert r["jaccard"] < 0.2
    assert (1, 3) not in out  # unrelated pair filtered
    # plain mode unchanged: jaccard-only filter drops the subset pair
    plain = dd.ngram_jaccard_pairs(docs, cands, threshold=0.8).collect()
    assert plain == []


def test_readability_fk_grade(spark):
    from privacy_cdc_lakehouse_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),
            (2, "Incomprehensible multisyllabic verbalizations dominate."),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.with_readability(docs).collect()}
    # doc 1: 6 words, 2 sentences; syllables: the(1) cat(1) sat(1) x2
    # + dog(1) ran(1) = 6
    r1 = out[1]
    assert r1["n_sentences"] == 2 and r1["n_syllables"] == 6
    assert r1["fk_grade"] == round(0.39 * 3 + 11.8 * 1.0 - 15.59, 6)
    # long words push the grade up
    assert out[2]["fk_grade"] > out[1]["fk_grade"]
    # empty doc: floors keep it finite
    r3 = out[3]
    assert r3["n_sentences"] == 1 and r3["n_syllables"] == 0
    assert r3["fk_grade"] == round(0.39 * 1 + 11.8 * 0.0 - 15.59, 6)


def test_hashed_features_python_parity_and_shape(spark):
    import hashlib

    from privacy_cdc_lakehouse_spark.operators import text as tx

    def h(w, salt):
        return int(hashlib.md5(f"{salt}|{w}".encode()).hexdigest()[:13], 16)

    def h1(w):
        return int(hashlib.md5(f"fhs|{w}".encode()).hexdigest()[0], 16)

    texts = {1: "the quick brown fox the fox", 2: "", 3: "solo"}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    dim = 64
    out = {
        r["doc_id"]: dict(zip(r["idx"], r["val"]))
        for r in tx.hashed_features(docs, dim=dim).collect()
    }
    for did, t in texts.items():
        want = {}
        for w in t.lower().split():
            idx = h(w, "fh") % dim
            s = 1.0 if h1(w) % 2 == 0 else -1.0
            want[idx] = want.get(idx, 0.0) + s
        want = {k: v for k, v in want.items() if v != 0.0}
        assert out.get(did, {}) == want, (did, out.get(did), want)
    # indices sorted ascending
    row = [r for r in tx.hashed_features(docs, dim=dim).collect() if r["doc_id"] == 1][0]
    assert list(row["idx"]) == sorted(row["idx"])
    # unsigned mode: plain counts
    u = {
        r["doc_id"]: dict(zip(r["idx"], r["val"]))
        for r in tx.hashed_features(docs, dim=dim, signed=False).collect()
    }
    assert sum(u[1].values()) == 6.0  # six tokens, all +1


def test_lsh_table_buckets_sql_text_parity(spark):
    """The one-shot SQL-text bucket expression (round-15 planning-cost
    fix: ~400 py4j round trips -> 1) must emit bit-identical buckets to
    the per-Column reference construction it replaced."""
    import random

    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.operators import similarity as sim

    rnd = random.Random(7)
    dim, tables, planes = 16, 3, 4
    df = spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    ).select(F.col("vec_id"), F.col("embedding").alias("cvec"))

    got = sim.lsh_table_buckets(df, "vec_id", "cvec", tables, planes, dim)

    # reference: the pre-round-15 per-Column form, element literals
    tagged = [
        F.struct(
            F.lit(t).alias("t"),
            F.concat_ws(
                "",
                *[
                    (
                        sim._dot(
                            F.col("cvec"),
                            F.array(
                                *[
                                    F.lit(x)
                                    for x in sim.plane_vector(
                                        t * planes + p, dim
                                    )
                                ]
                            ),
                        )
                        >= 0
                    )
                    .cast("int")
                    .cast("string")
                    for p in range(planes)
                ],
            ).alias("bucket"),
        )
        for t in range(tables)
    ]
    want = df.select(
        F.col("vec_id"), F.explode(F.array(*tagged)).alias("tb")
    ).select("vec_id", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))

    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == 40 * tables


def test_centroid_dists_sql_text_parity(spark):
    """The SQL-text argmin (round-15: one expr parse per assignment
    instead of ~20 py4j calls per centroid) must emit bit-identical
    (distance, id) orderings to the per-Column reference form."""
    import random

    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.operators import similarity as sim

    rnd = random.Random(11)
    dim, k = 8, 5
    cents = [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(k)]
    df = spark.createDataFrame(
        [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(60)],
        "vec_id long, _v array<double>",
    )
    got = df.select(
        "vec_id", sim._centroid_dists("`_v`", cents).alias("dc")
    ).collect()
    want = df.select(
        "vec_id", sim._centroid_dists(F.col("_v"), cents).alias("dc")
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # sliced-vector text form (the pq_encode subspace shape)
    got_s = df.select(
        sim.nearest_centroid(
            "slice(`_v`, 1, 4)", [(c, v[:4]) for c, v in cents]
        ).alias("c")
    ).collect()
    want_s = df.select(
        sim.nearest_centroid(
            F.slice(F.col("_v"), 1, 4), [(c, v[:4]) for c, v in cents]
        ).alias("c")
    ).collect()
    assert [r["c"] for r in got_s] == [r["c"] for r in want_s]


def test_array_lit_exact_roundtrip(spark):
    """_array_lit (SQL-text literal array) must round-trip doubles
    bit-exactly, including shortest-repr exponent forms."""
    from pyspark.sql import functions as F

    from privacy_cdc_lakehouse_spark.operators import similarity as sim

    vals = [1.0, -1.0, 0.1 + 0.2, 1e-05, -2.5e300, 123456789.123456789, 0.0]
    got = (
        spark.range(1)
        .select(sim._array_lit(vals).alias("a"))
        .head()["a"]
    )
    assert list(got) == vals
    import pytest

    with pytest.raises(ValueError):
        sim._array_lit([float("nan")])
    with pytest.raises(ValueError):
        sim._array_lit([float("inf")])


def test_random_projection_jl_distance_preservation(spark):
    import math
    import random

    from privacy_cdc_lakehouse_spark.operators import similarity as sim

    rnd = random.Random(23)
    dim, k, n = 64, 32, 30
    vecs = [
        (i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    proj = {
        r["vec_id"]: list(r["embedding"])
        for r in sim.random_projection(df, k, dim, seed=1).collect()
    }
    assert all(len(v) == k for v in proj.values())
    # deterministic: same seed -> identical output
    proj2 = {
        r["vec_id"]: list(r["embedding"])
        for r in sim.random_projection(df, k, dim, seed=1).collect()
    }
    assert proj == proj2
    # JL bound (loose, statistical): median pairwise distance ratio near 1
    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    ratios = []
    for i in range(0, n, 3):
        for j in range(i + 1, n, 7):
            d0 = dist(vecs[i][1], vecs[j][1])
            d1 = dist(proj[i], proj[j])
            if d0 > 0:
                ratios.append(d1 / d0)
    ratios.sort()
    med = ratios[len(ratios) // 2]
    assert 0.7 < med < 1.3, med
    # python parity of one component: y_0 = <x, plane> / sqrt(k)
    import hashlib

    def plane(seedk, d):
        return [
            1.0
            if int(hashlib.md5(f"p{seedk}|{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for i in range(d)
        ]

    p0 = plane(1 * 100_003 + 0, dim)
    want = sum(a * b for a, b in zip(vecs[0][1], p0)) / math.sqrt(k)
    assert abs(proj[0][0] - want) < 1e-9


def test_allpairs_exact_join_matches_naive(spark):
    """The prefix-filtered similarity join (allpairs_candidates +
    ngram_jaccard_pairs verify) must equal the NAIVE all-pairs Jaccard
    join exactly — recall 1.0 is the operator's whole contract."""
    import random

    import pytest as _pytest

    from privacy_cdc_lakehouse_spark.operators import dedup as dd

    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rnd.choices(vocab, k=rnd.randint(5, 25))))
        for i in range(40)
    ]
    docs += [(100 + i, docs[i][1] + " tail extra") for i in range(6)]
    docs += [(200 + i, docs[i][1]) for i in range(4)]  # exact copies
    df = spark.createDataFrame(docs, "doc_id long, text string")
    t = 0.5
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in dd.ngram_jaccard_pairs(
            df, dd.allpairs_candidates(df, t), threshold=t
        ).collect()
    }

    def sh3(text):
        ws = text.split()
        return {
            " ".join(ws[i:i + 3]) for i in range(max(len(ws) - 3, 0) + 1)
        }

    sets = {i: sh3(tx) for i, tx in docs}
    ids = sorted(sets)
    want = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if uni and inter / uni >= t:
                want[(a, b)] = round(inter / uni, 6)
    assert got == want
    assert len(want) >= 4  # the exact copies at J=1 alone guarantee pairs
    with _pytest.raises(ValueError, match="threshold"):
        dd.allpairs_candidates(df, 0.0)


def test_allpairs_positional_filter_prunes_prefix_collision(spark):
    """PPJoin positional filter (round-14 verdict task #1): a pair
    that COLLIDES in the rare-first prefixes but whose match position
    caps achievable overlap below α must be pruned from the candidate
    set. Construction: A and B share exactly one 3-gram shingle
    ('x y z'), each preceded in rank order by four unique junction
    shingles (df=1 beats df=2), so the shared shingle sits at rank 5
    of an 11-shingle doc — inside the p=6 prefix (the pure prefix
    filter WOULD emit the pair, asserted by an independent python
    replay below) — but bound = 1 + min(11-5, 11-5) = 7 < α =
    t/(1+t)·22 ≈ 7.33, so the positional filter drops it. Naive
    J = 1/21 agrees the pair never qualified."""
    from privacy_cdc_lakehouse_spark.operators import dedup as dd

    t = 0.5
    fa = [f"fa{i}" for i in range(10)]
    fb = [f"fb{i}" for i in range(10)]
    doc_a = " ".join(fa[:5] + ["x", "y", "z"] + fa[5:])
    doc_b = " ".join(fb[:5] + ["x", "y", "z"] + fb[5:])
    rows = [(1, doc_a), (2, doc_b)]
    # two filler copies per boilerplate side push every pure-filler
    # shingle to df >= 3, so only the four df=1 junction shingles can
    # outrank the df=2 shared shingle
    rows += [(10 + i, " ".join(fa)) for i in range(2)]
    rows += [(20 + i, " ".join(fb)) for i in range(2)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # independent python replay of prefix filtering ALONE: the pair
    # must collide there (otherwise this test proves nothing)
    def sh3(text):
        ws = text.split()
        return {
            " ".join(ws[i:i + 3]) for i in range(max(len(ws) - 3, 0) + 1)
        }

    sets = {i: sh3(tx) for i, tx in rows}
    dfreq: dict = {}
    for s in sets.values():
        for tok in s:
            dfreq[tok] = dfreq.get(tok, 0) + 1

    def prefix(i):
        ordered = sorted(sets[i], key=lambda tok: (dfreq[tok], tok))
        p = len(ordered) - math.ceil((t - 1e-9) * len(ordered)) + 1
        return set(ordered[:p])

    assert prefix(1) & prefix(2), "construction broke: no prefix collision"
    got = {
        (r["id_a"], r["id_b"])
        for r in dd.allpairs_candidates(df, t).collect()
    }
    assert (1, 2) not in got
    # the filler duplicates (J=1 among themselves) must survive — the
    # filter prunes positions, not duplicates
    assert (10, 11) in got and (20, 21) in got


def test_allpairs_positional_subset_and_shingle_col_parity(spark):
    """(a) positional=True candidates ⊆ positional=False candidates
    with identical VERIFIED output (the filter may only drop pairs the
    verify would reject); (b) passing a precomputed shingle column to
    allpairs_candidates + ngram_jaccard_pairs is bit-identical to the
    self-contained text path."""
    import random

    from privacy_cdc_lakehouse_spark.operators import dedup as dd

    rnd = random.Random(21)
    vocab = [f"w{i}" for i in range(25)]
    docs = [
        (i, " ".join(rnd.choices(vocab, k=rnd.randint(6, 20))))
        for i in range(30)
    ]
    docs += [(100 + i, docs[i][1] + " zz tail") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    t = 0.5
    with_pos = {
        (r["id_a"], r["id_b"])
        for r in dd.allpairs_candidates(df, t).collect()
    }
    without = {
        (r["id_a"], r["id_b"])
        for r in dd.allpairs_candidates(df, t, positional=False).collect()
    }
    assert with_pos <= without
    verify = lambda cand: {  # noqa: E731
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in dd.ngram_jaccard_pairs(df, cand, threshold=t).collect()
    }
    assert verify(dd.allpairs_candidates(df, t)) == verify(
        dd.allpairs_candidates(df, t, positional=False)
    )

    sdf = df.withColumn("sh", dd.shingles(F.col("text")))
    pre = {
        (r["id_a"], r["id_b"])
        for r in dd.allpairs_candidates(sdf, t, shingle_col="sh").collect()
    }
    assert pre == with_pos
    cand = dd.allpairs_candidates(df, t)
    got_pre = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in dd.ngram_jaccard_pairs(
            sdf, cand, threshold=t, shingle_col="sh"
        ).collect()
    }
    assert got_pre == verify(cand)
    # the minhash path honors the same contract
    lsh_default = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(df).collect()
    }
    lsh_pre = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(sdf, shingle_col="sh").collect()
    }
    assert lsh_pre == lsh_default
