"""Unit tests for text-analysis (E4) and dedup (E3) operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aeuc_vector_db_spark.operators import dedup as D
from aeuc_vector_db_spark.operators import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "The quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "The quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different text about spark engines and tables"),
        (5, "a an of to in and is on for the"),  # all stopwords
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tokens_lowercase_and_split(spark):
    df = spark.createDataFrame([("Hello, World! 42x",)], "text string")
    out = df.select(TX.tokens_col("text").alias("t")).collect()[0]["t"]
    assert out == ["hello", "world", "42x"]


def test_polyhash_matches_python(spark):
    df = spark.createDataFrame([("abc",), ("hello world",)], "s string")
    got = [r["h"] for r in df.select(TX.polyhash_col("s").alias("h")).collect()]
    assert got == [TX._py_polyhash("abc"), TX._py_polyhash("hello world")]


def test_shingles_and_edge_cases(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    out = df.select(TX.shingles_col(TX.tokens_col("text"), 3).alias("s")).collect()
    assert out[0]["s"] == ["a b c", "b c d"]
    assert out[1]["s"] == []  # fewer than n tokens


def test_shingle_hashes_sql_vs_pandas_identical(docs):
    sql_side = docs.select(
        "doc_id", F.array_sort(TX.shingle_hashes_col("text", 3)).alias("h")
    )
    arrow_side = docs.select(
        "doc_id", F.array_sort(TX.shingle_hashes_pandas(3)(F.col("text"))).alias("h")
    )
    a = {r["doc_id"]: r["h"] for r in sql_side.collect()}
    b = {r["doc_id"]: r["h"] for r in arrow_side.collect()}
    assert a == b


def test_minhash_signature_deterministic(docs):
    sig = docs.filter("doc_id = 1").select(
        TX.minhash_signature_col(TX.shingle_hashes_col("text", 3), 8).alias("sig")
    )
    s1 = sig.collect()[0]["sig"]
    s2 = sig.collect()[0]["sig"]
    assert s1 == s2 and len(s1) == 8 and all(v >= 0 for v in s1)


def test_exact_dedup_keeps_min_id(docs):
    groups = D.exact_dedup(docs)
    dup = groups.filter(F.col("dup_count") > 1).collect()
    assert len(dup) == 1
    assert dup[0]["doc_id"] == 1 and dup[0]["dup_count"] == 2


def test_minhash_near_dup_finds_planted_pair(docs):
    pairs = D.minhash_near_dup(docs, threshold=0.4).collect()
    found = {(r["a_id"], r["b_id"]) for r in pairs}
    assert (1, 2) in found  # exact dup → jaccard 1.0
    assert (1, 3) in found or (2, 3) in found  # near dup shares most shingles
    assert all(r["jaccard"] >= 0.4 for r in pairs)
    assert not any(4 in (a, b) for a, b in found)  # unrelated doc untouched


def test_minhash_hot_band_cap(spark):
    """A boilerplate mega-bucket (identical text on many docs) must not
    go quadratic: with max_band_size set, its pairs are excluded from
    candidate generation while genuinely distinct near-dups still pair.
    (Boilerplate groups are exact_dedup's job — O(n) by full-text hash.)"""
    import pyspark.sql.functions as F

    boiler = [(i, "the same legal disclaimer text appears everywhere") for i in range(50)]
    near = [
        (1000, "a quick brown fox jumps over the lazy dog tonight"),
        (1001, "a quick brown fox jumps over the lazy dog today"),
    ]
    docs = spark.createDataFrame(boiler + near, "doc_id long, text string")

    capped = D.minhash_candidates(docs, max_band_size=10)
    pairs = {(r["a_id"], r["b_id"]) for r in capped.collect()}
    # the planted near-dup pair survives the cap
    assert (1000, 1001) in pairs
    # no pair touches the boilerplate cluster (every band bucket it
    # occupies exceeds the cap)
    assert not any(a < 1000 or b < 1000 for a, b in pairs)

    # uncapped = exact LSH semantics: the mega-bucket pairs quadratically
    uncapped_n = D.minhash_candidates(docs).count()
    assert uncapped_n >= 50 * 49 / 2
    # and exact_dedup handles that cluster in O(n): one group of 50
    groups = D.exact_dedup(docs).filter(F.col("dup_count") == 50).count()
    assert groups == 1


def test_jaccard_exact_value(spark):
    df = spark.createDataFrame([(1,)], "x int")
    a = F.array(*[F.lit(i).cast("long") for i in [1, 2, 3, 4]])
    b = F.array(*[F.lit(i).cast("long") for i in [3, 4, 5, 6]])
    j = df.select(TX.jaccard_col(a, b).alias("j")).collect()[0]["j"]
    assert j == pytest.approx(2 / 6)


def test_language_id_und_and_en(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is happy"), (2, "xyzzy plugh qwerty")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["l"]
        for r in df.select(
            "doc_id", TX.language_id_col(TX.tokens_col("text")).alias("l")
        ).collect()
    }
    assert out[1] == "en"
    assert out[2] == "und"


def test_language_id_sql_vs_pandas_identical(spark, documents):
    sql_side = documents.select(
        "doc_id", TX.language_id_col(TX.tokens_col("text")).alias("l")
    )
    arrow_side = documents.select("doc_id", TX.language_id_pandas()(F.col("text")).alias("l"))
    a = {r["doc_id"]: r["l"] for r in sql_side.collect()}
    b = {r["doc_id"]: r["l"] for r in arrow_side.collect()}
    assert a == b


def test_quality_score_range(docs):
    vals = [
        r["q"] for r in docs.select(TX.quality_score_col("text").alias("q")).collect()
    ]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_simhash_close_for_near_dup(docs):
    out = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", TX.simhash16_col(TX.tokens_col("text")).alias("s")
        ).collect()
    }
    assert out[1] == out[2]  # identical text → identical fingerprint
    ham_near = bin(out[1] ^ out[3]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham_near <= ham_far  # near-dup at least as close as unrelated
    assert all(0 <= v < 2**16 for v in out.values())


def test_embedding_near_dup_blocked(spark):
    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [1.0, 0.001, 0.0]),  # near-identical, same block
        (3, 0, [0.0, 1.0, 0.0]),  # orthogonal, same block
        (4, 1, [1.0, 0.0, 0.0]),  # identical to 1 but different block
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    pairs = D.embedding_near_dup(df, threshold=0.99).collect()
    found = {(r["a_id"], r["b_id"]) for r in pairs}
    assert found == {(1, 2)}  # blocking prevents (1,4); orthogonal filtered


def test_minhash_lsh_mllib_finds_planted_pair(docs):
    pairs = D.minhash_lsh_mllib(docs, threshold=0.4).collect()
    found = {(r["a_id"], r["b_id"]) for r in pairs}
    assert (1, 2) in found  # exact dup
    assert not any(4 in (a, b) and 5 in (a, b) for a, b in found)


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain must collapse to one component (transitivity), and
    a separate pair must stay its own component."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a_id long, b_id long"
    )
    comp = {r["node"]: r["component"] for r in D.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_logarithmic_rounds(spark):
    """The adversarial case for min-label propagation: one 200-node
    chain needs 200 propagation rounds but star contraction must finish
    in O(log n) — and still label every node with the chain minimum."""
    n = 200
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    rounds: list[int] = []
    comp = {
        r["node"]: r["component"]
        for r in D.connected_components(chain, _rounds_out=rounds).collect()
    }
    assert comp == {i: 0 for i in range(n)}
    assert rounds[0] <= 10  # ~2·log2(200) with slack; propagation needs ~200


def test_connected_components_matches_union_find_on_random_graph(spark):
    """Differential check vs a driver-side union-find on a seeded random
    graph (mixed component sizes, shapes, and id gaps)."""
    import random

    rng = random.Random(7)
    nodes = rng.sample(range(10_000), 300)
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(250)
    ]
    edges = [(a, b) for a, b in edges if a != b]
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
    expected = {x: find(x) for x in parent}
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r["node"]: r["component"] for r in D.connected_components(df).collect()}
    assert got == expected


def test_connected_components_raises_at_exhausted_bound(spark):
    """An artificially low explicit max_iter must fail LOUDLY (the
    convergence RuntimeError), never return a half-contracted forest —
    a wrong component labeling would silently drop the wrong docs in
    keep-one dedup."""
    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(chain, max_iter=1)


def test_connected_components_default_bound_has_headroom(spark):
    """With max_iter=None the bound derives from the node count
    (2·⌈log₂ n⌉ + 8, floor 16) — the r5 fixed default of 20 had zero
    headroom on a 10⁶-node chain; the derived bound must exceed the
    executed rounds by a comfortable margin on the worst-case shape."""
    n = 256
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    rounds: list[int] = []
    comp = {
        r["node"]: r["component"]
        for r in D.connected_components(chain, _rounds_out=rounds).collect()
    }
    assert comp == {i: 0 for i in range(n)}
    # derived bound for n=256 is max(16, 2*8+8)=24; executed rounds must
    # leave at least 2x slack under it
    assert rounds[0] * 2 <= 24


def test_keep_one_marks_min_id(spark):
    edges = spark.createDataFrame([(5, 9), (9, 7)], "a_id long, b_id long")
    rows = {r["doc_id"]: (r["keeper_id"], r["keep"]) for r in D.keep_one(edges).collect()}
    assert rows == {5: (5, True), 7: (5, False), 9: (5, False)}


def test_unigram_logprob_known_distribution(spark):
    """3-doc corpus with hand-computable unigram LM: 6 tokens total,
    p(a)=3/6, p(b)=2/6, p(c)=1/6."""
    import math

    from aeuc_vector_db_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "a"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    assert set(got) == {1, 2, 3}  # empty doc: no row
    lp = lambda n: math.log(n / 6.0)
    assert abs(got[1]["avg_logp"] - (2 * lp(3) + lp(2)) / 3.0) < 1e-12
    assert abs(got[2]["avg_logp"] - (lp(2) + lp(1)) / 2.0) < 1e-12
    assert abs(got[3]["avg_logp"] - lp(3)) < 1e-12
    assert got[1]["n_tokens"] == 3


def test_unigram_logprob_ranks_fluent_over_rare(documents):
    """Docs made of corpus-common tokens must outscore a doc of unique
    junk — the property the quality filter exists for."""
    from pyspark.sql import functions as F

    from aeuc_vector_db_spark.operators.text import unigram_logprob

    junk = documents.limit(1).select(
        F.lit(99999).alias("doc_id"),
        F.lit("zxqv9 qq7h wkx3 jjm2 vvb8 pplo9").alias("text"),
        F.lit("xx").alias("lang"), F.lit("xx").alias("source"),
        F.lit(30).alias("n_chars"),
    )
    scored = unigram_logprob(documents.unionByName(junk))
    rows = {r["doc_id"]: r["avg_logp"] for r in scored.collect()}
    real_scores = [v for k, v in rows.items() if k != 99999]
    assert rows[99999] < min(real_scores)


def test_bm25_hand_computed(spark):
    """BM25 on a 3-doc corpus against hand-computed scores
    (k1=1.2, b=0.75, avglen=3, idf(a)=idf(c)=ln(1.6)):
      d3: ln1.6·(3·2.2/4.5 + 2.2/2.5) ≈ ln1.6·2.346667  (2 matched)
      d1: ln1.6·(2·2.2/3.2)           = ln1.6·1.375      (1 matched)
      d2: ln1.6·(2.2/1.9)             ≈ ln1.6·1.157895   (1 matched)"""
    import math

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "c c c a")], "doc_id long, text string"
    )
    from aeuc_vector_db_spark.operators.text import bm25_topk

    rows = bm25_topk(docs, ["a", "c"], top_k=10).collect()
    got = [(r["doc_id"], r["rank"], r["n_matched"], r["score"]) for r in rows]
    l16 = math.log(1.6)
    assert [(d, rk, nm) for d, rk, nm, _ in got] == [(3, 1, 2), (1, 2, 1), (2, 3, 1)]
    assert abs(got[0][3] - l16 * (3 * 2.2 / 4.5 + 2.2 / 2.5)) < 1e-12
    assert abs(got[1][3] - l16 * (2 * 2.2 / 3.2)) < 1e-12
    assert abs(got[2][3] - l16 * (2.2 / 1.9)) < 1e-12
    # terms absent from the corpus contribute nothing; all-absent query
    # returns no rows (no postings survive the isin filter)
    assert bm25_topk(docs, ["zzz"], top_k=5).count() == 0
    import pytest as _pt

    with _pt.raises(ValueError, match="empty query"):
        bm25_topk(docs, [])


def test_rrf_fuse_hand_computed(spark):
    """RRF on two hand-built rankings (k=60):
      doc 1: ranks (1, 2) → 1/61 + 1/62
      doc 2: rank 2 list A only → 1/62
      doc 3: rank 1 list B only → 1/61
    Order: 1 > 3 > 2 (shared presence beats either single list)."""
    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(3, 1), (1, 2)], "doc_id long, rank long")
    from aeuc_vector_db_spark.operators.text import rrf_fuse

    rows = rrf_fuse([a, b], k=60, top_k=10).collect()
    got = [(r["doc_id"], r["rank"], r["n_lists"], r["rrf_score"]) for r in rows]
    assert [(d, rk, nl) for d, rk, nl, _ in got] == [
        (1, 1, 2), (3, 2, 1), (2, 3, 1)
    ]
    assert abs(got[0][3] - (1 / 61 + 1 / 62)) < 1e-15
    assert abs(got[1][3] - 1 / 61) < 1e-15
    assert abs(got[2][3] - 1 / 62) < 1e-15
    import pytest as _pt

    with _pt.raises(ValueError, match="no rankings"):
        rrf_fuse([])


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (operators/dedup.py, round 7)
# ---------------------------------------------------------------------------

def _span_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_dup_spans_exact_shared_run(spark):
    """Two docs share one run S of length 50 embedded in different
    contexts: every window inside S (and only those) duplicates, and the
    merged span must recover EXACTLY S on both sides — length 50,
    11 windows each at L=40."""
    from aeuc_vector_db_spark.operators.dedup import substring_dup_spans

    s = "S" * 10 + "0123456789" * 4  # 50 chars, unique vs contexts
    a = "a" * 25 + s + "b" * 25
    b = "c" * 10 + s + "d" * 40
    got = {
        r["doc_id"]: (r["n_dup_windows"], r["dup_chars"], r["n_chars"])
        for r in substring_dup_spans(
            _span_df(spark, [(1, a), (2, b)]), min_len=40
        ).collect()
    }
    assert got == {1: (11, 50, 100), 2: (11, 50, 100)}


def test_substring_dup_spans_within_doc_repeat(spark):
    """A doc repeating its own 40-char block twice counts as duplicated
    even with no second document (the paper's within-doc case)."""
    from aeuc_vector_db_spark.operators.dedup import substring_dup_spans

    blk = "xyzw" * 10  # 40 chars
    doc = blk + "-" * 30 + blk
    rows = substring_dup_spans(_span_df(spark, [(7, doc)]), min_len=40).collect()
    assert len(rows) == 1
    r = rows[0]
    # both occurrences are spans of exactly 40 chars...  but the repeat
    # period-4 block also matches at shifted alignments inside itself?
    # No: windows are length 40 == the block, and the filler breaks any
    # cross-boundary window, so exactly 2 duplicated windows exist.
    assert (r["n_dup_windows"], r["dup_chars"]) == (2, 80)


def test_substring_dup_spans_negative_cases(spark):
    from aeuc_vector_db_spark.operators.dedup import substring_dup_spans

    rows = substring_dup_spans(
        _span_df(
            spark,
            [
                (1, "totally unique text that is long enough to window " + "u" * 20),
                (2, "short"),  # < L: no windows at all
                (3, None),  # null text
            ],
        ),
        min_len=40,
    ).collect()
    assert rows == []


def test_substring_dup_spans_merges_overlapping_windows(spark):
    """A duplicated run longer than L produces overlapping windows that
    must merge into ONE span (not count each window's chars)."""
    from aeuc_vector_db_spark.operators.dedup import substring_dup_spans

    s = "".join(chr(97 + (i * 7) % 26) for i in range(70))  # 70 aperiodic chars
    a = "A" * 5 + s + "B" * 5
    b = s  # the whole doc
    got = {
        r["doc_id"]: (r["dup_chars"], r["n_dup_windows"])
        for r in substring_dup_spans(
            _span_df(spark, [(1, a), (2, b)]), min_len=40
        ).collect()
    }
    # 70-char run: 31 windows, one merged span of 70 chars, both docs
    assert got == {1: (70, 31), 2: (70, 31)}


def test_substring_dup_spans_partitioning_invariance_and_stride(spark):
    from aeuc_vector_db_spark.operators.dedup import substring_dup_spans
    import pytest

    s = "".join(chr(97 + (i * 11) % 26) for i in range(60))
    rows = [(i, f"{'p' * i}{s}{'q' * (20 - i)}") for i in range(10)]
    df1 = _span_df(spark, rows).repartition(1)
    df8 = _span_df(spark, rows).repartition(8)
    r1 = sorted(map(tuple, substring_dup_spans(df1, min_len=40).collect()))
    r8 = sorted(map(tuple, substring_dup_spans(df8, min_len=40).collect()))
    assert r1 == r8 and len(r1) == 10
    # stride screening still flags every doc (run length 60 >= 40+3-1)
    r3 = substring_dup_spans(df1, min_len=40, stride=3).collect()
    assert {r["doc_id"] for r in r3} == set(range(10))
    with pytest.raises(ValueError, match="stride"):
        substring_dup_spans(df1, min_len=40, stride=0)


# ---------------------------------------------------------------------------
# SemDeDup (dedup.semantic_dedup): cluster-bucketed embedding near-dup
# ---------------------------------------------------------------------------


def _emb_corpus(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_exact_dups_always_collapse(spark):
    """Identical vectors co-locate under any learned cells (assignment
    is a deterministic function of the vector), so exact duplicates are
    never missed — regardless of k or input partitioning."""
    import random

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(1000 + i, list(base[i])) for i in range(0, 40, 5)]  # 8 exact copies
    for n_parts in (1, 9):
        res = D.semantic_dedup(
            _emb_corpus(spark, rows).repartition(n_parts), k=4, threshold=0.999
        ).collect()
        got = {(r["keeper_id"], r["doc_id"], r["keep"]) for r in res}
        expect = set()
        for i in range(0, 40, 5):
            expect.add((i, i, True))
            expect.add((i, 1000 + i, False))
        assert got == expect


def test_semantic_dedup_cell_col_matches_learned_on_exact_dups(spark):
    """A caller-provided cell column (here: one cell) must find at least
    everything the learned path finds — single-cell is brute force."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    df = _emb_corpus(spark, rows).withColumn("cell", F.lit(0))
    res = D.semantic_dedup(df, threshold=0.999, cell_col="cell").collect()
    got = {(r["keeper_id"], r["doc_id"], r["keep"]) for r in res}
    assert got == {(0, 0, True), (0, 2, False), (1, 1, True), (1, 3, False)}


def test_semantic_dedup_boundary_miss_is_the_declared_tradeoff(spark):
    """Near (not identical) duplicates split across cells are missed —
    the documented SemDeDup recall/cost trade. Two clusters far apart;
    a near-dup pair straddling them disappears under per-cluster cells
    but is found single-cell."""
    a = [10.0, 0.0]
    b = [10.0, 0.2]   # cos(a,b) ≈ 0.9998 — a near-dup of a
    far = [-10.0, 0.0]
    rows = [(0, a), (1, b), (2, far), (3, [-10.0, 0.1])]
    df = _emb_corpus(spark, rows)
    # force a split: cell by sign of x
    split = df.withColumn("cell", (F.element_at("embedding", 1) < 0).cast("int"))
    found_split = {tuple(sorted((r["keeper_id"], r["doc_id"])))
                   for r in D.semantic_dedup(split, threshold=0.999,
                                             cell_col="cell").collect()}
    assert (0, 1) in found_split  # same-cell pair found
    one_cell = df.withColumn("cell", F.lit(0))
    found_one = {tuple(sorted((r["keeper_id"], r["doc_id"])))
                 for r in D.semantic_dedup(one_cell, threshold=0.999,
                                           cell_col="cell").collect()}
    assert found_split <= found_one  # split never finds MORE than brute force


def test_semantic_dedup_validation(spark):
    df = _emb_corpus(spark, [(0, [1.0, 0.0])])
    with pytest.raises(ValueError, match="no column"):
        D.semantic_dedup(df, cell_col="nope")


def test_embedding_near_dup_arrow_matches_sql_pairs(spark):
    """The Arrow gram kernel and the SQL fold must agree on the PAIR SET
    (cos differs only in low-order bits, asserted ≤ 1e-9) — checked on
    the sf0.01 fixture with planted exact copies, away from the
    threshold noise boundary."""
    from aeuc_vector_db_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    copies = emb.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    corpus = emb.unionByName(copies)
    sql_pairs = {(r["block"], r["a_id"], r["b_id"]): r["cos"]
                 for r in D.embedding_near_dup(corpus, threshold=0.99).collect()}
    arrow_pairs = {(r["block"], r["a_id"], r["b_id"]): r["cos"]
                   for r in D.embedding_near_dup_arrow(corpus, threshold=0.99).collect()}
    assert sql_pairs.keys() == arrow_pairs.keys() and sql_pairs
    for k, v in sql_pairs.items():
        assert abs(v - arrow_pairs[k]) <= 1e-9, k


def test_embedding_near_dup_arrow_chunking_invariant(spark):
    """Row-chunking the gram matrix must not change the pair set."""
    rows = [(i, [float((i * 7 + j) % 5), float((i + j) % 3), 1.0])
            for i in range(30) for j in [0]]
    rows += [(100 + i, list(map(float, r[1]))) for i, r in enumerate(rows[:10])]
    df = _emb_corpus(spark, [(i, v) for i, v in rows]).withColumn(
        "label", F.lit(0))
    full = {(r["a_id"], r["b_id"]) for r in
            D.embedding_near_dup_arrow(df, threshold=0.999).collect()}
    tiny = {(r["a_id"], r["b_id"]) for r in
            D.embedding_near_dup_arrow(df, threshold=0.999, chunk=4).collect()}
    assert full == tiny and full


def test_semantic_dedup_engine_validation(spark):
    df = _emb_corpus(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    with pytest.raises(ValueError, match="engine must be"):
        D.semantic_dedup(df.withColumn("cell", F.lit(0)), cell_col="cell",
                         engine="nope")


# ---------------------------------------------------------------------------
# Symmetric-delete edit-distance-1 pairs (round 8)
# ---------------------------------------------------------------------------

def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_one_pairs_complete_vs_brute_force(spark):
    """The deletion-neighborhood blocking must find EXACTLY the pairs a
    brute-force Levenshtein sweep finds — substitutions, inserts,
    deletes, equal-after-distinct, and distance-2 lookalikes that share
    a deletion block but must be rejected by the verify step."""
    from aeuc_vector_db_spark.operators.dedup import edit_distance_one_pairs

    vocab = [
        "merge", "marge", "mergee", "merg", "mrge",     # subst/insert/delete
        "spark", "shark", "spork", "sprk",
        "ab", "ba",                                     # dist 2, shares block "a"/"b"? (swap)
        "a", "b", "",                                   # tiny + empty (filtered)
        "same", "same",                                 # duplicates collapse
        "käse", "kase",                                 # non-ascii subst
    ]
    df = spark.createDataFrame([(v,) for v in vocab], "k string")
    got = {(r["k_a"], r["k_b"])
           for r in edit_distance_one_pairs(df, "k").collect()}
    distinct = sorted({v for v in vocab if v})
    expect = {(x, y) for i, x in enumerate(distinct) for y in distinct[i + 1:]
              if x < y and _lev(x, y) <= 1}
    assert got == expect
    with pytest.raises(ValueError, match="no column"):
        edit_distance_one_pairs(df, "nope")


def test_edit_distance_one_pairs_plan_is_blocked_join(spark):
    """The candidate join must be an equi join on the deletion block —
    a cartesian/BNLJ here would be the O(N²) similarity join the
    operator exists to avoid."""
    from aeuc_vector_db_spark.operators.dedup import edit_distance_one_pairs

    df = spark.createDataFrame([(f"word{i}",) for i in range(50)], "k string")
    plan = edit_distance_one_pairs(df, "k")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# sliding_min_col (late round 9): the in-row sliding-window minimum
# that makes winnowing a map-only plan.
# ---------------------------------------------------------------------------


def _smin(spark, arr, w):
    df = spark.createDataFrame([(arr,)], "a array<long>")
    return df.select(TX.sliding_min_col("a", w).alias("m")).first()["m"]


def test_sliding_min_matches_bruteforce(spark):
    """Every position of the doubling-trick result equals the brute
    min over the (possibly truncated at the tail) w-window, across
    window sizes including non-powers-of-two."""
    arr = [5, 3, 8, 1, 9, 2, 7, 4, 6, 0, 11, 10]
    for w in (1, 2, 3, 4, 5, 7, 12, 20):
        got = _smin(spark, arr, w)
        want = [min(arr[j:j + w]) for j in range(len(arr))]
        assert got == want, (w, got, want)


def test_sliding_min_edges(spark):
    import pytest as _pt

    assert _smin(spark, [], 4) == []
    assert _smin(spark, [7], 3) == [7]
    with _pt.raises(ValueError):
        TX.sliding_min_col("a", 0)


def test_winnow_batch_bit_parity_with_sql_twin(spark):
    """Round-13 kernel swap: the vectorized winnow_batch must produce
    BIT-identical (n_fp, fp_sum, fp_min) to the SQL-HOF formulation
    (sliding_min_col + in-row folds) over the fixture documents —
    exact integer arithmetic on both paths, so equality is exact, no
    rounding. Also pins the boundary cases: a doc shorter than one
    window (its single 'window' is the min of all hashes), a doc with
    zero shingles (dropped), null text (dropped)."""
    from aeuc_vector_db_spark.queries.textops import (
        _doc_winnowing_fp,
        _doc_winnowing_fp_sql,
    )

    sf = "/root/testdata/sf0.01"
    a = sorted(map(tuple, _doc_winnowing_fp(spark, sf).collect()))
    b = sorted(map(tuple, _doc_winnowing_fp_sql(spark, sf).collect()))
    assert len(a) > 0 and a == b

    # boundary corpus: short docs, empty, null, single-window
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),  # 4 shingles = 1 window
        (2, "one two three"),                        # 1 shingle < w
        (3, "just two"),                             # 0 shingles → dropped
        (4, None),                                   # null → dropped
        (5, "a b c d e f g h i j k l m n o p"),      # many windows
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    import pandas as pd

    import aeuc_vector_db_spark.operators.text as TXm

    st = TXm.winnow_batch(pd.Series([r[1] for r in rows]))
    assert st["n_fp"].isna().tolist() == [False, False, True, True, False]
    # SQL twin over the same rows (inline the _doc_winnowing_fp_sql body
    # shape via the public pieces)
    w = 4
    hs = F.transform(
        TXm.shingles_col(TXm.tokens_col("text"), 3), lambda s: TXm.polyhash_col(s)
    )
    wins = TXm.let_col(
        hs,
        lambda h: F.when(
            F.size(h) >= w,
            F.slice(TXm.sliding_min_col(h, w), F.lit(1), F.size(h) - (w - 1)),
        ).when(F.size(h) > 0, F.array(F.array_min(h))),
    )
    fps = F.array_distinct(wins)
    sqlr = docs.select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fp"),
        F.aggregate(fps, F.lit(0).cast("long"), lambda a2, x: a2 + x).alias(
            "fp_sum"
        ),
        F.array_min(fps).alias("fp_min"),
    ).where(F.col("n_fp").isNotNull()).collect()
    want = {r["doc_id"]: (r["n_fp"], r["fp_sum"], r["fp_min"]) for r in sqlr}
    got = {
        rows[i][0]: tuple(int(v) for v in st.iloc[i])
        for i in range(len(rows))
        if not st["n_fp"].isna().iloc[i]
    }
    assert got == want


def test_substring_dup_spans_survives_total_screen_collision(spark):
    """The xxhash64 SCREEN may collide arbitrarily without changing the
    result — the content verify is what decides. Run with a degenerate
    constant screen (every window lands in one bucket, so everything
    becomes a candidate) and assert output identical to the real
    screen's on a corpus with true dups, near-misses, and uniques."""
    from aeuc_vector_db_spark.operators.dedup import substring_dup_spans

    s = "S" * 10 + "0123456789" * 4
    rows = [
        (1, "a" * 25 + s + "b" * 25),
        (2, "c" * 10 + s + "d" * 40),
        # aperiodic (distinct 2-char codes) — genuinely unique windows,
        # must not appear ("xyzw"*30 would self-duplicate at period 4)
        (3, "".join(chr(97 + i % 26) + chr(97 + i // 26 % 26) for i in range(60))),
        (4, s[:-1] + "!" + "e" * 30),        # 49-char near miss of s
    ]
    df = _span_df(spark, rows)
    real = sorted(map(tuple, substring_dup_spans(df, min_len=40).collect()))
    degenerate = sorted(
        map(
            tuple,
            substring_dup_spans(
                df, min_len=40, screen_hash=lambda c: F.lit(0).cast("long")
            ).collect(),
        )
    )
    assert real == degenerate
    assert {r[0] for r in real} == {1, 2, 4}  # 4 shares windows inside s[:-1]


def test_incremental_minhash_matches_batch_path_and_reads_index(spark):
    """incremental_minhash_near_dup (round 11): against a materialized
    minhash_doc_index, a new batch's pairs must equal the full batch
    path restricted to pairs touching the batch — and the plan must
    read the corpus side from the materialized index (Scan
    ExistingRDD), never re-shingling corpus text."""
    rows = [
        (1, "The quick brown fox jumps over the lazy dog tonight again"),
        (2, "The quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different text about spark engines and tables"),
        (4, "another unrelated sentence mentioning parquet manifests"),
        (5, "The quick brown fox jumps over the lazy dog yesterday"),  # batch
        (15, "completely different text about spark engines and tables"),  # batch, dup of 3
        (10, "The quick brown fox jumps over the lazy dog yesterday too"),  # batch
    ]
    full = spark.createDataFrame(rows, "doc_id long, text string")
    is_batch = F.col("doc_id") % 5 == 0
    index = D.minhash_doc_index(full.filter(~is_batch)).localCheckpoint(
        eager=True
    )
    inc = D.incremental_minhash_near_dup(
        full.filter(is_batch), index, threshold=0.3
    )
    ref = D.minhash_near_dup(full, threshold=0.3).filter(
        (F.col("a_id") % 5 == 0) | (F.col("b_id") % 5 == 0)
    )
    key = lambda r: (r["a_id"], r["b_id"], round(r["jaccard"], 9))  # noqa: E731
    got, want = sorted(map(key, inc.collect())), sorted(map(key, ref.collect()))
    assert got == want
    assert got, "planted cross-boundary near-dups must be found"
    # batch-internal pair (5,10) and cross pair (3,15) must both appear
    ids = {(a, b) for a, b, _ in got}
    assert (3, 15) in ids and (5, 10) in ids
    plan = inc._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_incremental_minhash_band_cap_matches_batch_path(spark):
    """max_band_size parity: the incremental path counts band
    occupancy over index UNION batch, so a boilerplate band shared by
    many docs across the corpus/batch split is capped exactly like the
    batch path caps it (a cap computed over only one side would leak
    quadratic pairs through the split)."""
    base = "The quick brown fox jumps over the lazy dog tonight"
    rows = [(i, base) for i in range(1, 13)]  # 12 near-identical docs
    full = spark.createDataFrame(rows, "doc_id long, text string")
    is_batch = F.col("doc_id") % 5 == 0
    index = D.minhash_doc_index(full.filter(~is_batch)).localCheckpoint(
        eager=True
    )
    inc = D.incremental_minhash_near_dup(
        full.filter(is_batch), index, threshold=0.3, max_band_size=4
    )
    ref = D.minhash_near_dup(full, threshold=0.3, max_band_size=4).filter(
        (F.col("a_id") % 5 == 0) | (F.col("b_id") % 5 == 0)
    )
    key = lambda r: (r["a_id"], r["b_id"], round(r["jaccard"], 9))  # noqa: E731
    assert sorted(map(key, inc.collect())) == sorted(map(key, ref.collect()))
    # with 12 identical docs every band bucket holds 12 > 4: everything
    # is capped away on both paths
    assert inc.count() == 0


def test_incremental_minhash_reingest_batch_wins(spark):
    """round-12 ADVICE: a batch doc_id already present in the index
    (re-ingest) must not produce duplicate (id, sig, sh) rows — the
    batch's NEWER text replaces the stored index row, so the output
    equals the batch path over (corpus-minus-reingested) UNION batch,
    with no duplicate pairs."""
    corpus = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog tonight again"),
            (2, "completely different text about spark engines and tables"),
            (3, "another unrelated sentence mentioning parquet manifests"),
        ],
        "doc_id long, text string",
    )
    # doc 1 RE-INGESTED with changed text; doc 10 is genuinely new
    batch = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog yesterday"),
            (10, "The quick brown fox jumps over the lazy dog yesterday too"),
        ],
        "doc_id long, text string",
    )
    index = D.minhash_doc_index(corpus).localCheckpoint(eager=True)
    inc = D.incremental_minhash_near_dup(batch, index, threshold=0.3)
    got = sorted(
        (r["a_id"], r["b_id"], round(r["jaccard"], 9)) for r in inc.collect()
    )
    # no duplicate pairs
    assert len(got) == len({(a, b) for a, b, _ in got})
    # reference: batch path over corpus-without-doc-1 plus the batch
    ref_docs = corpus.filter(F.col("doc_id") != 1).unionByName(batch)
    ref = D.minhash_near_dup(ref_docs, threshold=0.3).filter(
        F.col("a_id").isin(1, 10) | F.col("b_id").isin(1, 10)
    )
    want = sorted(
        (r["a_id"], r["b_id"], round(r["jaccard"], 9)) for r in ref.collect()
    )
    assert got == want
    assert (1, 10) in {(a, b) for a, b, _ in got}



# --- one shingle pass, one near-dup core, expressions built once ------

_K, _BAND, _N = 8, 2, 3


def _py_sets(texts):
    """Shingle-hash sets, brute force in Python (the kernel's oracle)."""
    out = {}
    for i, s in texts.items():
        toks = TX._py_tokens(s)
        out[i] = {
            TX._py_polyhash(" ".join(toks[j : j + _N]))
            for j in range(len(toks) - _N + 1)
        }
    return out


def _py_lsh(texts, threshold, touching=None):
    """(candidates, verified {(a, b): jaccard}) by brute force: every
    pair sharing a MinHash band, then exact Jaccard over the sets."""
    sets = {i: s for i, s in _py_sets(texts).items() if s}
    sig = {
        i: [min((a * h + b) % TX.HASH_MOD for h in s) for a, b in TX.MINHASH_COEFFS[:_K]]
        for i, s in sets.items()
    }
    cands, pairs = set(), {}
    for a in sets:
        for b in sets:
            if a >= b or (touching is not None and not ({a, b} & touching)):
                continue
            if any(
                sig[a][j : j + _BAND] == sig[b][j : j + _BAND] for j in range(0, _K, _BAND)
            ):
                cands.add((a, b))
                jac = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if jac >= threshold:
                    pairs[(a, b)] = jac
    return cands, pairs


@pytest.fixture(scope="module")
def dirty_corpus(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "spark engines shuffle rows between stages by hashing their keys",
        "a minhash signature keeps the minimum of each hash over the set",
        "documents with planted edits share most of their word shingles",
        "locality sensitive hashing buckets similar items into one band",
    ]
    texts = {i: t for i, t in enumerate(base)}
    texts[10] = base[0]  # exact copy
    texts[11] = base[1]  # exact copy
    texts[20] = base[0].replace("lazy", "sleepy")  # planted near-dups
    texts[21] = base[2].replace("minimum", "least").replace("set", "bag")
    texts[22] = base[3] + " again"
    texts[30] = None  # NULL text
    texts[31] = ""  # empty text
    texts[32] = "two words"  # fewer than n tokens
    texts[33] = "!!! ???"  # no tokens at all
    df = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")
    return texts, df.repartition(3)


def test_near_dup_matches_python_brute_force(dirty_corpus):
    texts, df = dirty_corpus
    want_cands, want = _py_lsh(texts, 0.3)
    got = {(r["a_id"], r["b_id"]): r["jaccard"] for r in D.minhash_near_dup(df, threshold=0.3).collect()}
    assert got == want and (0, 10) in got and (0, 20) in got
    cands = {(r["a_id"], r["b_id"]) for r in D.minhash_candidates(df).collect()}
    assert cands == want_cands


def test_incremental_near_dup_matches_python_brute_force(dirty_corpus):
    texts, df = dirty_corpus
    batch_ids = {10, 20, 21, 30, 32}
    is_batch = F.col("doc_id").isin(sorted(batch_ids))
    index = D.minhash_doc_index(df.filter(~is_batch)).localCheckpoint(eager=True)
    got = D.incremental_minhash_near_dup(df.filter(is_batch), index, threshold=0.3)
    _, want = _py_lsh(texts, 0.3, touching=batch_ids)
    assert {(r["a_id"], r["b_id"]): r["jaccard"] for r in got.collect()} == want


def test_shingle_kernel_runs_once_per_doc_per_action(spark, dirty_corpus, job_group, monkeypatch):
    """minhash_near_dup, minhash_candidates and the incremental path
    each shingle a document once per action: the kernel is counted
    by an accumulator over the rows its Arrow batches carry."""
    texts, df = dirty_corpus
    seen = spark.sparkContext.accumulator(0)
    kernel = TX.shingle_hash_batches

    def counted(n):
        inner = kernel(n)

        def run(batches):
            for b in batches:
                seen.add(b.num_rows)
                yield from inner([b])

        return run

    batch_ids = [10, 20, 21, 30, 32]
    is_batch = F.col("doc_id").isin(batch_ids)
    index = D.minhash_doc_index(df.filter(~is_batch)).localCheckpoint(eager=True)
    monkeypatch.setattr(D, "shingle_hash_batches", counted)
    runs = {
        "near_dup": (lambda: D.minhash_near_dup(df, threshold=0.3), len(texts)),
        "candidates": (lambda: D.minhash_candidates(df), len(texts)),
        "incremental": (
            lambda: D.incremental_minhash_near_dup(df.filter(is_batch), index, threshold=0.3),
            len(batch_ids),
        ),
    }
    for name, (build, n_docs) in runs.items():
        seen.value = 0
        out = build()
        jobs, stages = job_group(f"kernel-once-{name}", out.collect)
        assert jobs and stages
        assert seen.value == n_docs, (name, seen.value, n_docs)


def _fresh_features(df):
    """with_text_features as five freshly built withColumn steps."""
    return (
        df.withColumn("tokens", TX.tokens_col("text"))
        .withColumn("n_tokens", F.size("tokens").cast("long"))
        .withColumn("quality", TX.quality_score_col("text"))
        .withColumn("lang_pred", TX.language_id_col("tokens"))
        .withColumn("fingerprint", TX.polyhash_col(F.concat_ws(" ", F.col("tokens"))))
    )


def test_reused_text_features_match_fresh_build(dirty_corpus):
    _, df = dirty_corpus
    # a NULL text (30) or a doc with no tokens (31, 33) has a NULL
    # quality, on both builds
    quality = {r["doc_id"]: r["quality"] for r in TX.with_text_features(df).collect()}
    assert {d for d, q in quality.items() if q is None} == {30, 31, 33}
    lo, hi = df.filter("doc_id < 20"), df.filter("doc_id >= 20")
    for got, src in (
        (TX.with_text_features(df), df),
        (TX.with_text_features(lo).unionByName(TX.with_text_features(hi)), df),
        (TX.with_text_features(lo), lo),
    ):
        want = _fresh_features(src)
        assert got.columns == want.columns
        assert sorted(got.collect()) == sorted(want.collect())


def test_text_features_built_once(dirty_corpus, monkeypatch):
    from aeuc_vector_db_spark.functions.vector import built_once

    _, df = dirty_corpus
    TX.with_text_features(df)
    first = built_once(TX._feature_columns, "text")
    # a second build must not construct any expression again
    monkeypatch.setattr(TX, "language_id_col", None)
    monkeypatch.setattr(TX, "tokens_col", None)
    again = TX.with_text_features(df)
    assert built_once(TX._feature_columns, "text") is first
    assert again.columns == df.columns + [
        "tokens", "n_tokens", "quality", "lang_pred", "fingerprint"
    ]


def test_near_dup_index_blocks_are_freed(spark, dirty_corpus):
    """Each pass stores its index in the block manager and releases the
    previous pass's, so 20 passes leave at most one pass's index behind,
    also once both sides have collected garbage."""
    import gc
    import time

    _, df = dirty_corpus
    sc = spark.sparkContext

    def cached_rdds():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = cached_rdds()
    for _ in range(20):
        out = D.minhash_near_dup(df, threshold=0.3)
        out.collect()
    peak = cached_rdds() - before
    assert peak
    del out
    deadline = time.time() + 60
    while True:
        gc.collect()
        sc._jvm.System.gc()
        left = cached_rdds() - before
        if len(left) <= 1 or time.time() > deadline:
            break
        time.sleep(0.5)
    assert len(left) <= 1, (len(peak), len(left))


def test_minhash_passes_hold_one_index(spark, dirty_corpus):
    """Three passes over one input hold at most one pass's index blocks,
    with no garbage collection forced: building a pass's index releases
    the previous pass's. A frame of a released pass still collects."""
    _, df = dirty_corpus
    sc = spark.sparkContext

    def held():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return {i.id(): i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = held()
    first = D.minhash_near_dup(df, threshold=0.3)
    want = sorted(first.collect())
    one_pass = held()
    new = {i: b for i, b in one_pass.items() if i not in before}
    assert len(new) == 1 and sum(new.values()) > 0, new
    for _ in range(2):
        assert sorted(D.minhash_near_dup(df, threshold=0.3).collect()) == want
    three_passes = held()
    new = {i: b for i, b in three_passes.items() if i not in before}
    assert len(new) == 1, new
    assert sum(three_passes.values()) <= sum(one_pass.values())
    assert sorted(first.collect()) == want
