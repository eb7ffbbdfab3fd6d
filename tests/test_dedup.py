"""Exactness oracles for the approximate dedup operators: crafted
corpora with known near-duplicates, MinHash estimates checked against
exact Jaccard, SimHash against true Hamming neighbors."""

from __future__ import annotations

import itertools

import pytest

from python_etl_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm window sill in the late afternoon sun"
)
NEAR = BASE.replace("lazy", "sleepy")  # one token changed
FAR = "completely different text about spark dataframes and shuffles here"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(0, BASE), (1, NEAR), (2, FAR), (3, BASE + " extra tail words")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def exact_jaccard(a: str, b: str, k: int = 3) -> float:
    def sh(t):
        toks = t.split(" ")
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([(0, "one two")], "doc_id long, text string")
    got = shingles(df, k=3).collect()
    assert [(r.id, r.shingle) for r in got] == [(0, "one two")]


def test_ngram_jaccard_matches_exact(spark, corpus):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(corpus, threshold=0.1).collect()
    }
    texts = {0: BASE, 1: NEAR, 2: FAR, 3: BASE + " extra tail words"}
    for (a, b), jac in pairs.items():
        assert jac == pytest.approx(exact_jaccard(texts[a], texts[b]))
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.5
    assert (0, 3) in pairs
    assert not any(2 in p for p in pairs)


def test_minhash_estimates_jaccard(spark, corpus):
    sigs = {r.id: r.sig for r in minhash_signatures(corpus, num_hashes=64).collect()}
    est = sum(x == y for x, y in zip(sigs[0], sigs[1])) / 64
    true = exact_jaccard(BASE, NEAR)
    assert abs(est - true) < 0.25  # 64 hashes -> stderr ~ 0.06


def _jvm_minhash_signatures(frame, num_hashes):
    """Pure-Catalyst reference for the MinHash kernel: the same
    in-row gram hashes, then per seed
    ``array_min(transform(grams, g -> xxhash64(seed, g)))``."""
    from pyspark.sql import functions as F

    from python_etl_spark.operators.dedup import _gram_hashes

    sig = F.expr(
        "array("
        + ",".join(
            f"array_min(transform(grams, g -> xxhash64({i}, g)))"
            for i in range(num_hashes)
        )
        + ")"
    )
    return frame.select(
        F.col("doc_id").alias("id"), _gram_hashes("text", 3).alias("grams")
    ).select("id", sig.alias("sig"))


def _jvm_simhash(frame):
    """Pure-Catalyst reference for the SimHash kernel: explode the
    distinct tokens, sum the 64 per-bit +1/-1 votes in a groupBy and
    OR-fold the positive bits (NULL text explodes to no rows)."""
    from pyspark.sql import functions as F

    toks = frame.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(F.split(F.col("text"), " ", -1))).alias(
            "tok"
        ),
    ).withColumn("h", F.xxhash64("tok"))
    votes = toks.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftrightunsigned(h, {i}) & 1) = 1 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    packed = F.expr(
        " | ".join(
            f"(CASE WHEN v{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for i in range(64)
        )
    )
    return votes.select("id", packed.alias("simhash"))


def test_minhash_arrow_kernel_bit_identical_to_jvm(spark, corpus):
    """The vectorized numpy xxhash64 kernel must reproduce the Catalyst
    expression bit-for-bit: same signatures for every doc, including
    the single-token edge (short doc -> whole-text shingle), string
    ids and both num_hashes shapes."""
    short = spark.createDataFrame(
        [(10, "one two"), (11, ""), (12, "one")], "doc_id long, text string"
    )
    stringy = spark.createDataFrame(
        [("https://a.com/x", BASE), ("sha1:bb", NEAR)],
        "doc_id string, text string",
    )
    for frame in (corpus, short, stringy):
        for nh in (64, 16):
            jvm = {
                r.id: list(r.sig)
                for r in _jvm_minhash_signatures(frame, nh).collect()
            }
            arrow = {
                r.id: list(r.sig)
                for r in minhash_signatures(frame, num_hashes=nh).collect()
            }
            assert arrow == jvm


def test_simhash_arrow_kernel_bit_identical_to_jvm(spark, corpus):
    """The narrow-map numpy SimHash (zero exchanges) must reproduce the
    explode+groupBy vote aggregation bit-for-bit, including the bit-63
    sign wrap, empty-string docs, and the null-text drop semantics."""
    from python_etl_spark.operators.dedup import simhash

    edge = spark.createDataFrame(
        [(10, "one two"), (11, ""), (12, None), (13, "x")],
        "doc_id long, text string",
    )
    for frame in (corpus, edge):
        jvm = {r.id: r.simhash for r in _jvm_simhash(frame).collect()}
        arrow = {r.id: r.simhash for r in simhash(frame).collect()}
        assert arrow == jvm


def test_minhash_lsh_finds_near_dup(spark, corpus):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(corpus, threshold=0.4).collect()
    }
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)


def test_simhash_near_dup(spark):
    # SimHash needs enough tokens for stable bit votes: 200-token doc
    # with a single changed token keeps Hamming distance tiny.
    words = [f"tok{i}" for i in range(200)]
    base = " ".join(words)
    near = " ".join(["CHANGED" if i == 100 else w for i, w in enumerate(words)])
    far = " ".join(f"other{i}" for i in range(200))
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], "doc_id long, text string"
    )
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(df, max_hamming=6).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 6
    assert not any(2 in p for p in pairs)


def test_lsh_candidates_subset_of_jaccard_space(spark, sf_dir):
    """On real data: every LSH pair with high estimate must have
    nonzero true shingle overlap (sanity against hash collisions)."""
    from python_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    lsh = minhash_lsh_pairs(docs, threshold=0.3).collect()
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    for r in lsh:
        assert (r.doc_a, r.doc_b) in exact


def test_stop_shingle_df_cap(spark):
    """Boilerplate-heavy corpus: every doc shares a template sentence.
    Without the cap, the template shingles pair ALL docs (quadratic
    bucket); with max_doc_freq the hot shingles drop out and only the
    genuinely-duplicated pair remains. A normal corpus is unchanged."""
    from python_etl_spark.operators.dedup import shingle_hashes

    boiler = "subscribe to our newsletter and accept all cookies please"
    rows = [(i, f"{boiler} unique content number {i} about topic {i * 7}")
            for i in range(20)]
    rows += [(100, f"{boiler} same special payload text here"),
             (101, f"{boiler} same special payload text here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(docs, threshold=0.05).count()
    capped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            docs, threshold=0.05, max_doc_freq=10
        ).collect()
    }
    assert uncapped > 200  # boilerplate pairs every doc with every doc
    assert capped == {(100, 101)}  # only the true duplicate survives

    # candidate volume actually collapses: retained inverted index holds
    # no shingle with df > cap
    sh = shingle_hashes(docs, max_doc_freq=10)
    from pyspark.sql import functions as F
    max_df = sh.groupBy("sh").count().agg(F.max("count")).first()[0]
    assert max_df <= 10

    # normal corpus (nothing above the cap): results identical
    normal = spark.createDataFrame(
        [(0, BASE), (1, NEAR), (2, FAR)], "doc_id long, text string"
    )
    plain = sorted(tuple(r) for r in ngram_jaccard_pairs(normal, threshold=0.1).collect())
    with_cap = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(normal, threshold=0.1, max_doc_freq=10).collect()
    )
    assert plain == with_cap

    # minhash path takes the knob too
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5, max_doc_freq=10).collect()
    }
    assert (100, 101) in lsh


def test_near_dup_facade(spark, corpus):
    from python_etl_spark.operators.dedup import near_dup

    pairs = {
        (r.doc_a, r.doc_b)
        for r in near_dup(corpus, method="minhash", threshold=0.4).collect()
    }
    assert (0, 1) in pairs
    dup_docs = spark.createDataFrame(
        [(0, "same text"), (1, "same text"), (2, "other")],
        "doc_id long, text string",
    )
    groups = near_dup(dup_docs, method="exact").collect()
    assert len(groups) == 1 and groups[0].keeper == 0
    assert sorted(groups[0].members) == [0, 1]
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown method"):
        near_dup(corpus, method="fuzzy")


def test_connected_components(spark):
    from python_etl_spark.operators.components import (
        connected_components,
        dedup_keepers,
    )

    # two chains and an isolated pair: {1,2,3,4}, {10,11}, {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)],
        "doc_a long, doc_b long",
    )
    comp = {
        r.id: r.component for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in dedup_keepers(docs, pairs).collect()
    )
    assert kept == [1, 10, 20, 99]  # one per component + untouched doc


def test_components_long_chain_converges(spark):
    from python_etl_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    comp = connected_components(chain, max_iterations=40).collect()
    assert {r.component for r in comp} == {0}


def test_shared_shingle_memo_invalidates_on_overwrite(spark, tmp_path):
    """Overwriting the source files in place must MISS the memo: the
    plan semanticHash is path-stable, so only the (size, mtime) source
    fingerprint distinguishes old data from new (ADVICE r4)."""
    from python_etl_spark.operators.dedup import (
        _SHARED_SH,
        clear_shared_shingle_cache,
        shared_shingle_hashes,
    )

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "a b c d e"), (1, "f g h i j")], "doc_id long, text string"
    ).write.mode("overwrite").parquet(path)
    clear_shared_shingle_cache()
    try:
        first = shared_shingle_hashes(spark.read.parquet(path))
        n_first = first.count()
        # same files, same session -> HIT (identity, not just equality)
        assert shared_shingle_hashes(spark.read.parquet(path)) is first

        import time

        time.sleep(0.05)  # ensure mtime_ns moves even on coarse clocks
        spark.createDataFrame(
            [(0, "a b c d e"), (1, "f g h i j"), (2, "k l m n o")],
            "doc_id long, text string",
        ).write.mode("overwrite").parquet(path)
        second = shared_shingle_hashes(spark.read.parquet(path))
        assert second is not first
        assert second.count() > n_first  # fresh data, not the stale cache
        assert _SHARED_SH.get("key")[0] == spark.sparkContext.applicationId
    finally:
        clear_shared_shingle_cache()
        assert "df" not in _SHARED_SH and "key" not in _SHARED_SH


def test_pagerank_matches_numpy_power_iteration(spark):
    """5-iteration damped PageRank on a small directed graph equals the
    same fixed-iteration power method in numpy (atol 1e-9 — the
    decimal-summed contributions keep engines/partitionings exact)."""
    import numpy as np

    from python_etl_spark.operators.components import pagerank

    edges = [(0, 1), (1, 0), (1, 2), (2, 0), (2, 3), (3, 2), (0, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}

    n = 4
    out = {u: sum(1 for a, _ in edges if a == u) for u in range(n)}
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        nxt = np.full(n, 0.15 / n)
        for u, v in edges:
            nxt[v] += 0.85 * r[u] / out[u]
        r = nxt
    for u in range(n):
        assert abs(got[u] - r[u]) < 1e-9, (u, got[u], r[u])
    # total rank mass is conserved (no dangling nodes)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_dangling_and_source_only_nodes(spark):
    """General directed semantics: a source-only node (out-edges, no
    in-edges) keeps its (1-d)/n base rank and keeps contributing;
    a dangling node (no out-edges) has its mass redistributed
    uniformly. Oracle: numpy power iteration with the standard
    dangling treatment. Mass stays 1.0 every round."""
    import numpy as np

    from python_etl_spark.operators.components import pagerank

    # 0 is source-only (no in-edges); 3 is dangling (no out-edges)
    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}
    assert set(got) == {0, 1, 2, 3}  # every node present, incl. source-only

    n = 4
    out = {u: sum(1 for a, _ in edges if a == u) for u in range(n)}
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        nxt = np.full(n, 0.15 / n)
        dangling = sum(r[u] for u in range(n) if out.get(u, 0) == 0)
        nxt += 0.85 * dangling / n
        for u, v in edges:
            nxt[v] += 0.85 * r[u] / out[u]
        r = nxt
    for u in range(n):
        assert abs(got[u] - r[u]) < 1e-9, (u, got[u], r[u])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_window_dup_fraction_known_corpus(spark, tmp_path, monkeypatch):
    """Hand-built corpus with known overlapping-window duplication:
    doc 0 and doc 1 share an 8-token boilerplate span embedded in
    otherwise-unique text; doc 2 is fully unique; doc 3 is too short
    for any window. Fractions must match exact enumeration."""
    from pyspark.sql import functions as F

    from python_etl_spark.plans.training import text_window_dup_fraction

    boiler = " ".join(f"b{i}" for i in range(8))
    rows = [
        (0, f"u0a u0b u0c {boiler} u0d u0e u0f", "en", "s"),
        (1, f"v1a v1b {boiler} v1c v1d v1e v1f v1g", "en", "s"),
        (2, " ".join(f"w{i}" for i in range(15)), "en", "s"),
        (3, "too short text", "en", "s"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("long"))
    d = str(tmp_path / "docs")
    df.write.parquet(f"{d}/documents.parquet")
    got = {
        r.doc_id: r for r in text_window_dup_fraction(spark, d).collect()
    }
    # doc 0: 14 tokens -> 7 windows; only the window that is exactly
    # the boilerplate (starting at token 3) also appears in doc 1
    assert got[0].n_windows == 7 and got[0].n_dup_windows == 1
    assert got[0].dup_fraction_ppm == 1000000 // 7
    assert got[1].n_dup_windows == 1
    assert got[2].n_dup_windows == 0 and got[2].n_windows == 8
    assert got[3].n_windows == 0 and got[3].dup_fraction_ppm == 0


# ---------------------- exact-substring span removal -----------------------


def _naive_exact_substr(texts: dict, w: int = 8) -> dict:
    """Quadratic reference for the ExactSubstr spec: count every
    w-token window corpus-wide, drop tokens covered by any window
    occurring >= 2 times, reassemble."""
    from collections import Counter

    toks = {d: t.split(" ") for d, t in texts.items()}
    wc = Counter(
        " ".join(t[i : i + w])
        for t in toks.values()
        for i in range(len(t) - w + 1)
    )
    out = {}
    for d, t in toks.items():
        cov = set()
        for i in range(len(t) - w + 1):
            if wc[" ".join(t[i : i + w])] >= 2:
                cov.update(range(i, i + w))
        out[d] = " ".join(x for p, x in enumerate(t) if p not in cov)
    return out


def test_exact_substr_dedup_matches_naive_reference(spark, sf_dir):
    """Distributed hashed-window span removal == the quadratic pure-
    Python spec, doc for doc, on the real sf0.001 corpus."""
    from python_etl_spark.plans import QUERIES

    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    want = _naive_exact_substr(texts)
    got = {
        r["doc_id"]: r["dedup_text"]
        for r in QUERIES["text_exact_substr_dedup"](spark, sf_dir).collect()
    }
    assert got == want
    # non-vacuous: the corpus must actually contain duplicated spans
    assert any(got[d] != texts[d] for d in texts)


def test_exact_substr_dedup_properties(spark, sf_dir):
    """The Lee-et-al. contract: (a) no window that was duplicated in
    the ORIGINAL corpus survives anywhere in the deduped corpus;
    (b) docs without any duplicated window come back byte-identical;
    (c) exact twins erase each other completely."""
    from collections import Counter

    from python_etl_spark.plans import QUERIES
    from pyspark.sql import functions as F

    w = 8
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = QUERIES["text_exact_substr_dedup"](spark, sf_dir)
    rows = {r["doc_id"]: r for r in out.collect()}
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.select("doc_id", "text").collect()
    }
    wc = Counter(
        " ".join(t.split(" ")[i : i + w])
        for t in texts.values()
        for i in range(len(t.split(" ")) - w + 1)
    )
    dup = {k for k, c in wc.items() if c >= 2}
    for d, r in rows.items():
        t = r["dedup_text"].split(" ") if r["dedup_text"] else []
        # (a) removal is complete w.r.t. original duplicated windows
        for i in range(len(t) - w + 1):
            assert " ".join(t[i : i + w]) not in dup, (d, i)
        # (b) untouched docs byte-identical
        if r["n_removed_tokens"] == 0:
            assert r["dedup_text"] == texts[d]
    # (c) at least one doc pair shares spans -> both lose those spans
    assert sum(r["n_removed_tokens"] for r in rows.values()) > 0


def test_leakage_safe_split_no_near_dup_straddles(spark, sf_dir):
    """The split's whole point: no near-dup PAIR may straddle
    train/eval, clusters are split-cohesive, and the train fraction
    lands near the 13/16 design point."""
    from python_etl_spark.operators.dedup import ngram_jaccard_pairs
    from python_etl_spark.plans import QUERIES

    out = {
        r["doc_id"]: (r["group_id"], r["split"])
        for r in QUERIES["etl_leakage_safe_split"](spark, sf_dir).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.2).collect()
    assert pairs, "corpus must contain near-dup pairs for a real check"
    for p in pairs:
        a, b = p["doc_a"], p["doc_b"]
        assert out[a][1] == out[b][1], (a, b)   # never straddles
        assert out[a][0] == out[b][0]           # same cluster
    frac = sum(1 for g, s in out.values() if s == "train") / len(out)
    assert 0.70 < frac < 0.92, frac


def test_decontaminate_spans_restores_original_text(spark, sf_dir):
    """The planted benchmark window must be cut back out EXACTLY:
    every doc that got a benchmark tail planted comes back as its
    original pre-planting text (plus any natural overlap removal)."""
    from python_etl_spark.plans import QUERIES

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    out = {
        r["doc_id"]: r
        for r in QUERIES["text_decontaminate_spans"](spark, sf_dir).collect()
    }
    planted = [
        d for d in out
        if d % 11 == 0 and d % 13 != 0 and (d - d % 13) in docs
    ]
    assert planted
    for d in planted:
        r = out[d]
        assert r["n_removed_tokens"] >= 8, d
        # unless natural contamination also hit this doc, the clean
        # text is exactly the original
        if r["n_removed_tokens"] == 8:
            assert r["clean_text"] == docs[d], d
