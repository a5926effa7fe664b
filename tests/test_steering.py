"""Emission-aware steering of the exact pairwise tiers (round-8 verdict
ask #2): the word-Jaccard strategy selector and the embedding near-dup
router must route off the exact/8-bit shapes when a sampled
candidate-emission estimate exceeds the documented cap, and the routed
outputs must stay oracle-checkable.

The sf1 audit showed these two tiers are the registry's only ×50-plus
slopes — optimal plans, unbounded emission. Steering is the missing guard
rail: nothing else stops a 100 TB caller from launching the quadratic
path.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from market_flow_spark.extensions import dedup, similarity
from market_flow_spark.queries_ext import (
    WORDS_SQL,
    _banded_near_dup_oracle,
    _minhash_oracle,
    _near_dup_oracle,
)
from tests.oracle_utils import assert_matches_oracle


# ---------------------------------------------------------------------------
# corpora
# ---------------------------------------------------------------------------


def _dense_shared_vocab(spark):
    """200 docs × 60 words over a 100-word vocabulary: not saturated
    (vocab ≥ 0.5·N), no stop-word skew (top share ≈ 0.8%), so the exact
    pick is count_common — whose Σdf² ≈ 100·120² ≈ 1.4e6 candidate rows."""
    vocab = [f"w{i:03d}" for i in range(100)]
    rows = [
        (i, " ".join(vocab[(i * 7 + j * 13) % 100] for j in range(60)))
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _stopword_corpus(spark):
    """600 docs, each 15 doc-unique rare words + the same 10 stop words:
    top share 600/15000 = 4% → the exact pick is freq_ordered, whose
    PREFIX emission is tiny (the ⌊0.3·25⌋+1 = 8 rarest words per doc are
    the unique ones, df ≤ 1) even though naive Σdf² ≈ 10·600² = 3.6e6."""
    stops = " ".join(f"the{k}" for k in range(10))
    rows = [
        (i, stops + " " + " ".join(f"u{i}x{j}" for j in range(15)))
        for i in range(600)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _clone_corpus(spark):
    """40 clone pairs with doc-pair-unique vocabularies: doc 2i and 2i+1
    share 9 of their 10 words (Jaccard 9/11 ≈ 0.818 ≥ 0.7), and no words
    cross pairs — the exact qualifying-pair set is exactly the 40 clones."""
    rows = []
    for p in range(40):
        words = [f"p{p}w{j}" for j in range(10)]
        rows.append((2 * p, " ".join(words)))
        rows.append((2 * p + 1, " ".join(words[:9] + [f"p{p}alt"])))
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# word-Jaccard selector routing
# ---------------------------------------------------------------------------


def test_selector_routes_dense_corpus_above_cap(spark):
    docs = _dense_shared_vocab(spark)
    # default cap (1e10): the 1.4e6-row job is fine for the exact tier
    assert dedup.choose_word_jaccard_strategy(docs) == "count_common"
    # tightened cap: the same corpus routes to the LSH-prefilter shape
    assert (
        dedup.choose_word_jaccard_strategy(docs, max_emission=1e5)
        == "lsh_prefilter"
    )


def test_selector_estimates_prefix_grain_for_freq_ordered(spark):
    """The freq_ordered shape must be costed at PREFIX grain: a stop-word
    corpus whose naive Σdf² (3.6e6) busts the cap stays on the exact tier
    because the prefix filter is precisely what bounds it — and only an
    absurdly tight cap (below even the prefix emission) routes it."""
    docs = _stopword_corpus(spark)
    assert (
        dedup.choose_word_jaccard_strategy(docs, max_emission=1e5)
        == "freq_ordered"
    )
    assert (
        dedup.choose_word_jaccard_strategy(docs, max_emission=10)
        == "lsh_prefilter"
    )


def test_selector_none_cap_disables_routing(spark):
    docs = _dense_shared_vocab(spark)
    assert (
        dedup.choose_word_jaccard_strategy(docs, max_emission=None)
        == "count_common"
    )


def test_registered_corpora_stay_exact_at_test_scale(tables):
    """Pins the registered dedup_word_jaccard staying on an exact shape at
    driver SFs under the default cap (its oracle is the exhaustive pair
    set, so a silent route would be a driver red)."""
    pick = dedup.choose_word_jaccard_strategy(tables["documents"])
    assert pick != "lsh_prefilter"


def test_lsh_prefilter_recall_tracks_band_s_curve(spark):
    """Recall on the J≈0.82 clone corpus: the 4×4 band S-curve predicts
    1-(1-0.818⁴)⁴ ≈ 0.91 per pair — measured 36/40 on this deterministic
    corpus. The routed tier must never INVENT a pair, and every recalled
    pair must carry the same exact Jaccard."""
    docs = _clone_corpus(spark)
    exact = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in dedup.word_jaccard_pairs(
            docs, 0.7, strategy="count_common"
        ).collect()
    }
    routed = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in dedup.word_jaccard_pairs(
            docs, 0.7, strategy="lsh_prefilter"
        ).collect()
    }
    assert len(exact) == 40
    assert routed <= exact
    assert len(routed) >= 34  # measured 36; slack for tokenizer tweaks


def test_lsh_prefilter_full_recall_on_near_clones(spark):
    """At true near-dup similarity (J = 39/41 ≈ 0.95, the regime the
    routed tier exists for) the S-curve miss probability is ~1e-3/pair —
    measured 40/40 on this deterministic corpus."""
    rows = []
    for p in range(40):
        words = [f"q{p}w{j}" for j in range(40)]
        rows.append((2 * p, " ".join(words)))
        rows.append((2 * p + 1, " ".join(words[:39] + [f"q{p}alt"])))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in dedup.word_jaccard_pairs(
            docs, 0.7, strategy="count_common"
        ).collect()
    }
    routed = {
        (r["doc1"], r["doc2"], r["jaccard"])
        for r in dedup.word_jaccard_pairs(
            docs, 0.7, strategy="lsh_prefilter"
        ).collect()
    }
    assert len(exact) == 40
    assert routed == exact


def test_routed_word_jaccard_is_subset_of_exact_on_testdata(tables):
    """On the real documents table the routed tier may drop
    threshold-boundary pairs (band S-curve) but must never invent one, and
    every surviving pair carries the same exact Jaccard value."""
    exact = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in dedup.word_jaccard_pairs(
            tables["documents"], 0.7, strategy="count_common"
        ).collect()
    }
    routed = {
        (r["doc1"], r["doc2"]): r["jaccard"]
        for r in dedup.word_jaccard_pairs(
            tables["documents"], 0.7, strategy="lsh_prefilter"
        ).collect()
    }
    assert set(routed) <= set(exact)
    for pair, j in routed.items():
        assert j == exact[pair]


def test_unknown_strategy_still_raises(spark):
    with pytest.raises(ValueError, match="unknown word-jaccard strategy"):
        dedup.word_jaccard_pairs(
            _clone_corpus(spark), 0.7, strategy="nonsense"
        )


# ---------------------------------------------------------------------------
# embedding near-dup router
# ---------------------------------------------------------------------------


def _skewed_embeddings(spark):
    """400 vectors, dim 16, ALL sharing the 8-bit sign bucket (first 8
    dims positive) — the degenerate case for the hardwired width: Σ size²
    = 400² = 1.6e5 candidates from one block. Dims 8-15 carry varied
    signs, so added hyperplanes genuinely split the block."""
    rows = []
    for i in range(400):
        head = [0.1 + 0.001 * ((i + d) % 7) for d in range(8)]
        tail = [
            (0.2 if (i >> (d - 8)) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            for d in range(8, 16)
        ]
        rows.append((i, head + tail))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_escalated_width_matches_duckdb_twin(spark):
    """The single-block shape at a widened 12-bit width (the width
    bench_escalation.json measured) stays a bit-reproducible contract
    on the skewed corpus, checked against the DuckDB twin generated at
    that width. The routed entry never executes it — its escalation
    regime goes to the banded ladder — but the wide block remains a
    caller-selectable tier and must stay twin-true."""
    emb = _skewed_embeddings(spark)
    bits = 12
    wide = similarity.embedding_neardup_pairs(
        emb, threshold=0.25, n_bits=bits
    )
    pdf = pd.DataFrame(
        {
            "vec_id": [r["vec_id"] for r in emb.collect()],
            "embedding": [list(r["embedding"]) for r in emb.collect()],
        }
    )
    con = duckdb.connect()
    try:
        con.register("embeddings", pdf)
        assert_matches_oracle(
            wide, con, _near_dup_oracle(n_bits=bits, threshold=0.25)
        )
    finally:
        con.close()


def test_routed_entry_escalates_onto_banded_ladder(spark):
    """Round-11 verdict ask #2: in the escalation regime the canonical
    routed entry must produce the BANDED ladder's output (the measured
    ×4-sf1 dominant shape), certified against the parameterized banded
    DuckDB twin at the layout the banded chooser picks — no caller lands
    on the dominated single-block bit-walk anymore."""
    emb = _skewed_embeddings(spark)
    routed = similarity.embedding_neardup_pairs_routed(
        emb, threshold=0.25, max_emission=2e4
    )
    bands, bits = similarity.choose_banded_layout(emb, max_emission=2e4)
    pdf = pd.DataFrame(
        {
            "vec_id": [r["vec_id"] for r in emb.collect()],
            "embedding": [list(r["embedding"]) for r in emb.collect()],
        }
    )
    con = duckdb.connect()
    try:
        con.register("embeddings", pdf)
        assert_matches_oracle(
            routed,
            con,
            _banded_near_dup_oracle(
                n_bands=bands, band_bits=bits, threshold=0.25
            ),
        )
    finally:
        con.close()


def test_routed_entry_stays_single_block_under_cap(tables):
    """The non-escalated regime of the routed entry is byte-identical to
    the base 8-bit block (the registered twin's assumption): same pair
    set on the driver's own embeddings table."""
    emb = tables["embeddings"]
    routed = similarity.embedding_neardup_pairs_routed(emb, threshold=0.25)
    base = similarity.embedding_neardup_pairs(
        emb, threshold=0.25, n_bits=8
    )
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_routed_word_jaccard_twin_is_parameterized_correctly():
    """The routed oracle must be the UNIGRAM twin at 0.7 — guard the
    parameterization (a silent SHINGLES/0.8 fallback would certify the
    wrong tier)."""
    sql = _minhash_oracle(WORDS_SQL, threshold=0.7)
    assert ">= 0.7" in sql and "0.8" not in sql
    assert WORDS_SQL.splitlines()[0] in sql


def test_emission_estimate_exact_when_sample_covers_corpus(spark):
    """With the sample covering the whole corpus the (N/n)² scale factor is
    1 and _index_emission must equal the true Σ df² — the estimator is
    exact arithmetic plus frequency-stationarity scaling, nothing else."""
    docs = _dense_shared_vocab(spark)
    arrs = dedup.doc_shingle_arrays(docs, 1, "text")
    words = [
        (r["doc_id"], w)
        for r in arrs.collect()
        for w in r["sh"]
    ]
    from collections import Counter

    df = Counter(w for _, w in words)
    true_sum = sum(c * c for c in df.values())
    n_docs = len({d for d, _ in words})
    sets = dedup._word_sample(docs, "text", 2048)
    est = dedup._index_emission(sets, n_docs, n_docs)
    assert est == true_sum


def test_prefix_len_is_the_documented_ceil(spark):
    """The prefix-filter slice is sz - ceil(sz·t) + 1 = ⌊(1-t)·sz⌋ + 1,
    and the SQL helper agrees with its driver-side twin. (25, 0.7) is
    the stop-word corpus above: 8 elements, not 9."""
    pins = {
        (25, 0.7): 8, (10, 0.7): 4, (3, 0.7): 1, (1, 0.7): 1,
        (20, 0.5): 11, (7, 0.5): 4, (10, 0.9): 2, (25, 0.8): 6,
        (100, 0.7): 31, (0, 0.7): 1,
    }
    for (sz, t), want in pins.items():
        assert dedup._prefix_len_py(sz, *dedup._threshold_ratio(t)) == want, (
            sz, t,
        )
    sizes = spark.range(0, 130).select(F.col("id").cast("int").alias("sz"))
    for t in (0.3, 0.5, 0.7, 0.8, 0.9, 0.95, 1.0):
        num, den = dedup._threshold_ratio(t)
        got = {
            r["sz"]: r["n"]
            for r in sizes.select(
                "sz", dedup._prefix_len(num, den).alias("n")
            ).collect()
        }
        assert got == {
            sz: dedup._prefix_len_py(sz, num, den) for sz in range(130)
        }, t


def _saturated_100_tokens(spark):
    """500 docs × 30 words over a 100-token vocabulary: saturated
    (vocab < 0.5·N) but too wide for one machine word."""
    rows = [
        (i, " ".join(f"t{(i * 3 + j * 7) % 100}" for j in range(30)))
        for i in range(500)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize(
    "corpus, want",
    [
        ("empty", "count_common"),
        ("all_null", "count_common"),
        ("single", "freq_ordered"),
        ("saturated_100", "count_common"),
    ],
)
def test_chooser_on_degenerate_corpora(spark, corpus, want):
    """Empty and all-NULL samples hold no word set (no posting list, zero
    emission); a single doc's three words each hold a third of the sampled
    occurrences, which reads as stop-word skew; a 100-token saturated
    corpus is too wide for the bitmask."""
    schema = "doc_id long, text string"
    docs = {
        "empty": lambda: spark.createDataFrame([], schema),
        "all_null": lambda: spark.createDataFrame(
            [(i, None) for i in range(50)], schema
        ),
        "single": lambda: spark.createDataFrame([(0, "a b c")], schema),
        "saturated_100": lambda: _saturated_100_tokens(spark),
    }[corpus]()
    assert dedup.choose_word_jaccard_strategy(docs) == want
    assert dedup.choose_word_jaccard_strategy(docs, max_emission=None) == want
    if corpus in ("empty", "all_null"):
        assert dedup.word_jaccard_pairs(docs).count() == 0


def test_word_sample_is_the_lowest_doc_ids(spark):
    """The chooser's sample is the sample_docs lowest doc_ids whatever the
    partition order — empty word sets included, so a short sample still
    proves the corpus size."""
    ids = [(i * 37) % 101 for i in range(101)]
    docs = spark.createDataFrame(
        [(i, None if i == 2 else f"d{i} common") for i in ids],
        "doc_id long, text string",
    ).repartition(7)
    sets = dedup._word_sample(docs, "text", 5)
    assert len(sets) == 5
    assert sorted(w for s in sets for w in s if w != "common") == [
        "d0", "d1", "d3", "d4",
    ]
    assert [] in sets


# ---------------------------------------------------------------------------
# banded sign-LSH near-dup (round 10: the recall repair for escalation)
# ---------------------------------------------------------------------------


def test_banded_candidate_semantics_by_construction(spark):
    """Pair iff ALL sign bits of >= 1 disjoint 16-dim band agree. vec 1
    agrees with vec 0 on band 0 only (dims 0-15), vec 2 flips one dim in
    every band -> no candidate even at threshold -1 (which admits every
    verified candidate, so absence == never a candidate)."""
    base = [0.5] * 64
    b_band0 = [0.5] * 16 + [-0.5] * 48  # band 0 identical, bands 1-3 flipped
    b_none = list(base)
    for d in (3, 19, 35, 51):  # one sign flip inside each band
        b_none[d] = -0.5
    emb = spark.createDataFrame(
        [(0, base), (1, b_band0), (2, b_none)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["vec1"], r["vec2"])
        for r in similarity.embedding_neardup_pairs_banded(
            emb, threshold=-1.0
        ).collect()
    }
    assert (0, 1) in got
    assert (0, 2) not in got and (1, 2) not in got


def test_banded_recall_beats_single_block_at_equal_emission(spark):
    """The design claim, measured on a deterministic planted corpus:
    4 bands x 16 bits has the same expected emission as one 14-bit block
    (4*N^2/2^16 = N^2/2^14) but recalls planted cos~0.97 pairs at
    1-(1-p^16)^4 instead of p^14 — strictly more on any corpus big
    enough to average over the hyperplane draws."""
    import numpy as np

    rng = np.random.Generator(np.random.PCG64(7))
    n, dim, n_plant = 1500, 64, 60
    g = rng.standard_normal((n, dim))
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    base_ids = rng.choice(n, size=n_plant, replace=False)
    pert = rng.standard_normal((n_plant, dim))
    pert /= np.linalg.norm(pert, axis=1, keepdims=True)
    eps = np.tan(np.arccos(0.97))
    dup = g[base_ids] + eps * pert
    dup /= np.linalg.norm(dup, axis=1, keepdims=True)
    vecs = np.vstack([g, dup])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    planted = {(int(b), n + i) for i, b in enumerate(base_ids)}
    banded = {
        (r["vec1"], r["vec2"])
        for r in similarity.embedding_neardup_pairs_banded(
            emb, threshold=0.9
        ).collect()
    }
    single14 = {
        (r["vec1"], r["vec2"])
        for r in similarity.embedding_neardup_pairs(
            emb, threshold=0.9, n_bits=14
        ).collect()
    }
    rec_banded = len(planted & banded)
    rec_single = len(planted & single14)
    # theory at cos .97 (p = 1 - acos(.97)/pi ~ .922): banded ~.75 of 60
    # ~ 45, single ~.32 of 60 ~ 19; assert the ordering with slack
    assert rec_banded > rec_single, (rec_banded, rec_single)
    assert rec_banded >= 0.55 * n_plant, rec_banded


def test_banded_dim_guard(spark):
    emb = spark.createDataFrame(
        [(0, [0.1] * 32)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="exceeds embedding dim"):
        similarity.embedding_neardup_pairs_banded(emb, n_bands=4, band_bits=16)


def test_banded_band_cap_drops_degenerate_buckets(spark):
    """max_band_size guard: 100 identical vectors form one 100-deep
    bucket in every band; capped at 10 the pair set is empty (the
    mass-dup cluster belongs to the exact-dedup tier upstream)."""
    emb = spark.createDataFrame(
        [(i, [0.5] * 64) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    capped = similarity.embedding_neardup_pairs_banded(
        emb, max_band_size=10
    )
    assert capped.count() == 0


def _degenerate_band0_embeddings(spark):
    """400 dim-64 vectors whose first 16 dims are ALL positive — at the
    (4,16) entry layout band 0 is one 400-deep bucket (Sigma c^2 = 1.6e5
    from that band alone). Dims 16+ carry varied signs keyed to the row
    index, so wider bands genuinely split the degenerate block."""
    rows = []
    for i in range(400):
        head = [0.1 + 0.001 * ((i + d) % 7) for d in range(16)]
        tail = [
            (0.2 if (i >> (d % 9)) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            for d in range(16, 64)
        ]
        rows.append((i, head + tail))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_choose_banded_layout_stays_base_on_testdata(tables):
    """Pins the registered embedding_near_dup_banded_routed oracle's
    static layout assumption at driver SFs (mirror of
    test_routed_entry_stays_single_block_under_cap)."""
    assert similarity.choose_banded_layout(
        tables["embeddings"], n_bands=4, band_bits=10
    ) == (4, 10)
    assert similarity.choose_banded_layout(tables["embeddings"]) == (4, 16)


def test_choose_banded_layout_escalates_down_the_ladder(spark):
    emb = _degenerate_band0_embeddings(spark)
    layout = similarity.choose_banded_layout(emb, max_emission=2e4)
    assert layout[0] < 4 and layout[0] * layout[1] <= 64
    # the default cap leaves the entry layout alone (1.6e5 << 2e6)
    assert similarity.choose_banded_layout(emb) == (4, 16)


def test_banded_escalated_layout_matches_duckdb_twin(spark):
    """The escalated banded output stays a bit-reproducible contract:
    route on the degenerate corpus, then check against the DuckDB twin
    generated at the CHOSEN layout — same evidence class as
    test_escalated_width_matches_duckdb_twin."""
    from market_flow_spark.queries_ext import _banded_near_dup_oracle

    emb = _degenerate_band0_embeddings(spark)
    bands, bits = similarity.choose_banded_layout(emb, max_emission=2e4)
    routed = similarity.embedding_neardup_pairs_banded(
        emb, threshold=0.25, n_bands=bands, band_bits=bits
    )
    pdf = pd.DataFrame(
        {
            "vec_id": [r["vec_id"] for r in emb.collect()],
            "embedding": [list(r["embedding"]) for r in emb.collect()],
        }
    )
    con = duckdb.connect()
    try:
        con.register("embeddings", pdf)
        assert_matches_oracle(
            routed,
            con,
            _banded_near_dup_oracle(
                n_bands=bands, band_bits=bits, threshold=0.25
            ),
        )
    finally:
        con.close()


def _deep_rung_embeddings(spark):
    """400 base vectors + 10 planted exact duplicates, dim 64, shaped so
    the ladder walks to (2, 32): dims 0-20 are constant-positive, which
    makes (4,16)'s band 0 AND (3,21)'s band 0 one 410-deep bucket
    (Σc² ≈ 1.7e5 each, over the 2e4 test cap), while dims 21-63 carry
    signs keyed to the row index so BOTH 32-dim bands split into
    singletons (Σc² ≈ 8e2 total, under the cap). The planted duplicates
    (vec_id 400+i copies row i) collide in every band, so the 32-bit
    rung emits real pairs — the regime the round-10 INT key packing
    crashed on (ANSI CAST_OVERFLOW at 2³¹-and-up bit weights)."""
    rows = []
    for i in range(400):
        head = [0.1 + 0.001 * ((i + d) % 7) for d in range(21)]
        tail = [
            (0.2 if (i >> (d % 9)) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            for d in range(21, 64)
        ]
        rows.append((i, head + tail))
    for i in range(10):
        rows.append((400 + i, list(rows[i][1])))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _varied_band_embeddings(spark):
    """200 base vectors + 10 exact duplicates + 5 one-band-flipped
    near-dups, dim 64, with index-keyed signs in EVERY 16-dim band so the
    scale-default (4,16) layout emits exactly the planted pairs: the
    duplicates collide in all four bands, the flipped rows (vec_id 210+i
    copies row i with dim 60's sign negated) collide in bands 0-2 but
    not band 3 — pairs caught by a strict subset of bands, the banding
    semantics the single block can't express."""
    rows = []
    for i in range(200):
        vec = [
            (0.2 if (i >> (d % 9)) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            for d in range(64)
        ]
        rows.append((i, vec))
    for i in range(10):
        rows.append((200 + i, list(rows[i][1])))
    for i in range(5):
        vec = list(rows[i][1])
        vec[60] = -vec[60]
        rows.append((210 + i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _assert_banded_matches_twin(emb, result, n_bands, band_bits):
    pdf = pd.DataFrame(
        {
            "vec_id": [r["vec_id"] for r in emb.collect()],
            "embedding": [list(r["embedding"]) for r in emb.collect()],
        }
    )
    con = duckdb.connect()
    try:
        con.register("embeddings", pdf)
        assert_matches_oracle(
            result,
            con,
            _banded_near_dup_oracle(
                n_bands=n_bands, band_bits=band_bits, threshold=0.25
            ),
        )
    finally:
        con.close()


def test_banded_scale_default_layout_matches_duckdb_twin(spark):
    """Round-11 verdict ask #3: the (4, 16) SCALE-DEFAULT layout —
    previously certified only by the escalation bench's recall-vs-theory
    cross-check — pinned against the parameterized DuckDB twin on a
    corpus where 16-bit bands yield rows (planted duplicates collide in
    all bands; one-band-flipped near-dups collide in a strict subset)."""
    emb = _varied_band_embeddings(spark)
    out = similarity.embedding_neardup_pairs_banded(
        emb, threshold=0.25, n_bands=4, band_bits=16
    )
    assert out.count() >= 15  # 10 exact + 5 flipped planted pairs
    _assert_banded_matches_twin(emb, out, 4, 16)


def test_semantic_dedup_keep_banded_planted_clusters(spark):
    """The banded SemDeDup keep-list collapses exactly the planted
    structure of the varied-band corpus: rows 200+i duplicate row i
    (all bands), rows 210+i (i < 5) flip one band-3 dim of row i —
    so clusters are {i, 200+i, 210+i} for i < 5, {i, 200+i} for
    5 <= i < 10, singletons elsewhere; the keeper is the minimum id."""
    emb = _varied_band_embeddings(spark)
    rows = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in similarity.semantic_dedup_keep(
            emb,
            similarity.embedding_neardup_pairs_banded(
                emb, threshold=0.25, n_bands=4, band_bits=16
            ),
        ).collect()
    }
    assert len(rows) == 215
    for i in range(5):
        assert rows[i] == (i, True)
        assert rows[200 + i] == (i, False)
        assert rows[210 + i] == (i, False)
    for i in range(5, 10):
        assert rows[i] == (i, True)
        assert rows[200 + i] == (i, False)
    # everything else keeps itself
    singles = [v for v in range(10, 200)]
    assert all(rows[v] == (v, True) for v in singles)


def test_banded_32bit_rung_routes_and_matches_twin(spark):
    """ADVICE r10 (high): the (2, 32) rung crashed at runtime under the
    INT key packing (ANSI CAST_OVERFLOW at bit weight 2³¹). Route the
    deep-rung corpus — the chooser must land on (2, 32) — and certify
    the executed output against the BIGINT-keyed DuckDB twin."""
    emb = _deep_rung_embeddings(spark)
    layout = similarity.choose_banded_layout(emb, max_emission=2e4)
    assert layout == (2, 32)
    routed = similarity.embedding_neardup_pairs_banded(
        emb, threshold=0.25, n_bands=layout[0], band_bits=layout[1]
    )
    assert routed.count() >= 10  # the planted duplicate pairs
    _assert_banded_matches_twin(emb, routed, 2, 32)


def test_banded_64bit_rung_executes_and_matches_twin(spark):
    """ADVICE r10 (high), deepest rung: (1, 64) packs bit 63 into the
    BIGINT sign bit (1L << 63 = Long.MIN_VALUE on the Spark side, the
    pre-wrapped literal on the DuckDB side) — under the old packing this
    failed at PLAN BUILD (lit(2⁶³) → NumberFormatException). Execute it
    end-to-end and certify against the twin."""
    emb = _deep_rung_embeddings(spark)
    out = similarity.embedding_neardup_pairs_banded(
        emb, threshold=0.25, n_bands=1, band_bits=64
    )
    assert out.count() >= 10
    _assert_banded_matches_twin(emb, out, 1, 64)


def test_banded_ladder_caps_rung_width_at_64_for_wide_dims(spark):
    """Round-11 review finding: for dim > 64 the ladder's (1, dim) rung
    exceeded the BIGINT key's 64-bit capacity and the routed escalation
    path crashed. Rungs now cap at 64 bits (a 64-dim prefix slice per
    band — still valid sign-LSH); the deep rung must EXECUTE on a
    dim-128 corpus that escalates all the way down."""
    rows = []
    for i in range(300):
        head = [0.1 + 0.001 * ((i + d) % 7) for d in range(64)]
        tail = [
            (0.2 if (i >> (d % 9)) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            for d in range(64, 128)
        ]
        rows.append((i, head + tail))
    rows.append((300, list(rows[0][1])))  # one planted exact dup
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    bands, bits = similarity.choose_banded_layout(
        emb, n_bands=4, band_bits=32, max_emission=400.0
    )
    assert bits <= 64
    out = similarity.embedding_neardup_pairs_banded(
        emb, threshold=0.25, n_bands=bands, band_bits=bits
    )
    assert out.count() >= 1  # the planted dup survives every layout


def _construct_jobs(spark, group, build):
    """Jobs launched while ``build()`` constructs a plan (nothing is
    executed): counted by job group, so box load cannot move it."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_routed_entry_construct_job_budget(spark, tables):
    """The routed entry reads ONE bounded sign sample for both decisions
    (block estimate, then the ladder walk), and counts the corpus only
    behind its early exits. Routing off launches nothing; under the cap
    it is the dim probe + the sample; escalating adds only the banded
    tier's dim check (the two-sample router took 5 here)."""
    skewed = _skewed_embeddings(spark)
    assert _construct_jobs(
        spark, "routed_off",
        lambda: similarity.embedding_neardup_pairs_routed(
            skewed, threshold=0.25, max_emission=None
        ),
    ) == 0
    under = _construct_jobs(
        spark, "routed_under_cap",
        lambda: similarity.embedding_neardup_pairs_routed(
            tables["embeddings"], threshold=0.25
        ),
    )
    assert 0 < under <= 2, under
    escalating = _construct_jobs(
        spark, "routed_escalating",
        lambda: similarity.embedding_neardup_pairs_routed(
            skewed, threshold=0.25, max_emission=2e4
        ),
    )
    assert 0 < escalating <= 3, escalating


def test_word_jaccard_construct_job_budget(spark, tables):
    """The word-Jaccard chooser pulls one deterministic sample and folds
    every stat in Python (the two-cache chooser took 8 jobs, and
    word_jaccard_pairs(strategy='auto') 15, on this corpus)."""
    docs = tables["documents"]
    chooser = _construct_jobs(
        spark, "word_chooser",
        lambda: dedup.choose_word_jaccard_strategy(docs),
    )
    assert 0 < chooser <= 2, chooser
    auto = _construct_jobs(
        spark, "word_pairs_auto",
        lambda: dedup.word_jaccard_pairs(docs, strategy="auto"),
    )
    assert 0 < auto <= 9, auto


def test_band_sign_keys_rejects_unpackable_widths(spark):
    """Widths past 64 have no single-BIGINT packing — the guard must
    raise at plan build, not overflow silently. The single block's INT
    bucket holds at most 31 bits: wider fails at plan build too, not
    with CAST_OVERFLOW at execution."""
    emb = _deep_rung_embeddings(spark)
    with pytest.raises(ValueError, match=r"band_bits"):
        similarity.embedding_neardup_pairs_banded(
            emb, n_bands=1, band_bits=65
        )
    with pytest.raises(ValueError, match=r"n_bands"):
        similarity.band_sign_keys(F.col("embedding"), 0, 8)
    for n_bits in (0, 32):
        with pytest.raises(ValueError, match=r"n_bits"):
            similarity.embedding_neardup_pairs(emb, n_bits=n_bits)


def _distinct_band_embeddings(spark, n=2000):
    """n rows, dim 64, with the row index's low 11 bits sign-encoded into
    EVERY 16-dim band (dims 16j..16j+10) — all four (4,16) band keys are
    singletons for every row, so the entry layout's TRUE emission is
    exactly N per band. A 512-row sample is then ALL singletons: the
    naive Σc²·(N/n)² estimator reads 512·(N/512)² per band — quadratic
    phantom emission from the diagonal — while the true value is N."""
    rows = []
    for i in range(n):
        vec = []
        for d in range(64):
            k = d % 16
            if k <= 10:
                s = 0.2 if (i >> k) & 1 else -0.2
            else:
                s = 0.2
            vec.append(s + 0.001 * ((i * d) % 5))
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_banded_estimator_does_not_inflate_singleton_diagonal(spark):
    """Round-11 regression (found by the escalation head-to-head: the
    ladder walked to (1,64) at ×4-sf1 and planted recall collapsed to
    1/400): on an all-distinct corpus the entry layout's true emission
    is 4·N = 8e3, under a 2e4 cap — the chooser must KEEP the entry
    layout even when the 512-row sample is pure singletons (the naive
    estimator read 4·512·(2000/512)² ≈ 3.1e4 and escalated)."""
    emb = _distinct_band_embeddings(spark)
    assert similarity.choose_banded_layout(
        emb, n_bands=4, band_bits=16, max_emission=2e4, sample_rows=512
    ) == (4, 16)


def test_block_chooser_does_not_inflate_singleton_diagonal(spark):
    """Single-block mirror of the diagonal regression, on the shared
    estimator with one band: 12-bit keys are all-distinct (true Σc² =
    N = 2048 ≤ the 5e3 cap), so the 12-bit block fits; the naive
    estimator read 512·(2048/512)² = 8192 > cap and escalated."""
    rows = []
    for i in range(2048):
        vec = [
            (0.2 if (i >> d) & 1 else -0.2) + 0.001 * ((i * d) % 5)
            if d <= 11
            else 0.2 + 0.001 * ((i + d) % 7)
            for d in range(16)
        ]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    patterns, n_full = similarity._sign_sample(
        emb, 16, "embedding", "vec_id", sample_rows=512
    )
    assert (len(patterns), n_full) == (512, 2048)
    assert similarity._sign_emission(patterns, n_full, 1, 12) <= 5e3


def test_banded_layout_estimator_exact_at_full_coverage(spark):
    """With the sample covering the whole corpus the folded-chunk
    estimate equals the true Sigma-over-bands bucket-size^2 — pinned by
    forcing a cap BETWEEN the true emissions of two ladder rungs and
    asserting the chooser lands exactly on the first rung that fits."""
    import numpy as np

    emb = _degenerate_band0_embeddings(spark)
    rows = emb.collect()
    vecs = np.array([r["embedding"] for r in rows])

    def true_emission(bands, bits):
        total = 0
        for b in range(bands):
            keys = {}
            for v in vecs:
                k = sum(
                    (1 << i) for i in range(bits) if v[b * bits + i] > 0
                )
                keys[k] = keys.get(k, 0) + 1
            total += sum(c * c for c in keys.values())
        return total

    e_entry = true_emission(4, 16)
    e_next = true_emission(3, 21)
    assert e_next < e_entry
    cap = (e_next + e_entry) / 2
    assert similarity.choose_banded_layout(emb, max_emission=cap) == (3, 21)

def test_banded_64bit_rung_matches_twin_with_negative_dim63(spark):
    """ADVICE r11: the (1, 64) ladder rung packs a sign into bit 63,
    where Spark's shiftleft wraps to Long.MIN_VALUE and the DuckDB twin
    uses a pre-wrapped two's-complement literal — asserted in the twin
    SQL but never executed at band_bits > 32 until now. The varied-band
    corpus carries NEGATIVE dim-63 components on even rows and positive
    on odd (duplicate pairs of both polarities planted), so the bit-63
    packing is exercised both set and clear on both engines."""
    emb = _varied_band_embeddings(spark)
    signs = {
        r["vec_id"]: r["s"]
        for r in emb.selectExpr(
            "vec_id", "embedding[63] > 0 AS s"
        ).collect()
    }
    assert signs[0] is False and signs[1] is True  # both polarities live
    out = similarity.embedding_neardup_pairs_banded(
        emb, threshold=0.25, n_bands=1, band_bits=64
    )
    assert out.count() >= 10  # the exact duplicates collide in the band
    _assert_banded_matches_twin(emb, out, 1, 64)


def test_choose_banded_layout_last_resort_is_structurally_valid(spark):
    """ADVICE r11: with an unsatisfiable cap the chooser must degrade to
    a layout band_sign_keys can execute, not echo a rung the loop itself
    rejected. Entry (1, 128) on a dim-16 corpus leaves the ladder with
    zero structurally valid rungs -> clamp to (1, dim); a valid-entry
    ladder under the same impossible cap returns its deepest VALID rung."""
    rows = [(i, [0.1] * 16) for i in range(50)]  # one degenerate bucket
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    layout = similarity.choose_banded_layout(
        emb, n_bands=1, band_bits=128, max_emission=1.0
    )
    assert layout == (1, 16)
    # and the returned layout actually executes
    similarity.embedding_neardup_pairs_banded(
        emb, threshold=0.25, n_bands=layout[0], band_bits=layout[1]
    ).count()
    assert similarity.choose_banded_layout(
        emb, n_bands=4, band_bits=4, max_emission=1.0
    ) == (1, 16)


def test_semantic_keep_routed_stays_base_under_cap(tables):
    """Under the default cap the keep-list over the routed pair graph is
    byte-identical to the one over the single block — the registered
    semantic_dedup_keep_routed twin's assumption, on the test SF's
    embeddings table."""
    emb = tables["embeddings"]
    routed = similarity.semantic_dedup_keep(
        emb, similarity.embedding_neardup_pairs_routed(emb, threshold=0.25)
    )
    base = similarity.semantic_dedup_keep(
        emb, similarity.embedding_neardup_pairs(emb, threshold=0.25, n_bits=8)
    )
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, base.collect())
    )


def test_semantic_keep_routed_escalates_onto_banded_graph(spark):
    """In the escalation regime the routed keep-list clusters the BANDED
    pair graph (no caller lands on the 216/400-recall single-block
    generator unaware) — certified against the recursive-CTE banded keep
    twin at the layout the banded chooser picks on the skewed corpus."""
    from market_flow_spark.queries_ext import _semantic_keep_banded_oracle

    emb = _skewed_embeddings(spark)
    routed = similarity.semantic_dedup_keep(
        emb,
        similarity.embedding_neardup_pairs_routed(
            emb, threshold=0.25, max_emission=2e4
        ),
    )
    bands, bits = similarity.choose_banded_layout(emb, max_emission=2e4)
    assert (bands, bits) != (4, 16)  # genuinely the escalated regime
    pdf = pd.DataFrame(
        {
            "vec_id": [r["vec_id"] for r in emb.collect()],
            "embedding": [list(r["embedding"]) for r in emb.collect()],
        }
    )
    con = duckdb.connect()
    try:
        con.register("embeddings", pdf)
        assert_matches_oracle(
            routed,
            con,
            _semantic_keep_banded_oracle(
                n_bands=bands, band_bits=bits, threshold=0.25
            ),
        )
    finally:
        con.close()
