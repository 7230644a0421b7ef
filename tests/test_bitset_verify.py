"""Round-16 exact bitset verify (r15 verdict item 2): when the global token
vocabulary fits one machine word, the Jaccard verify kernels attach 64-bit
masks instead of token arrays and compute |A∩B| = bit_count(maskA & maskB).

Locks:
* the mask encoding is EXACT — both verify stages return row-identical
  results to the array_intersect path on seeded random corpora (including
  boundary similarities and an empty-set doc);
* the adaptive guard works — a 65-token vocabulary returns None (array
  kernel fallback), a 64-token one returns a mask frame.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.dedup import (
    BITSET_VOCAB_MAX,
    _exact_verify_stage,
    _lsh_verify_stage,
    _token_mask_frame,
)


def _toks_frame(spark, sets: dict[int, list[int]]):
    return spark.createDataFrame(
        [(i, v) for i, v in sets.items()], "doc_id long, toks array<long>"
    )


def _all_pairs(spark, ids: list[int]):
    return spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "da long, db long"
    )


def _random_sets(rng: random.Random, n_docs: int, vocab: list[int]):
    # nonempty sets only: the tokenizers never emit an empty token set
    # (split('') is ['']), and an empty-vs-empty pair is 0/0 on the array
    # kernel (ANSI divide-by-zero) while the mask kernel drops the doc —
    # out of both kernels' domain
    sets = {}
    for i in range(n_docs):
        k = rng.randint(1, len(vocab))
        sets[i] = rng.sample(vocab, k)
    sets[1] = list(vocab)  # full-vocab doc
    if n_docs > 3:
        sets[2] = list(sets[3])  # an exact duplicate pair
    return sets


def test_bitset_verify_matches_array_kernel(spark):
    rng = random.Random(16)
    # vocab of signed 64-bit hashes, incl. extremes
    vocab = [rng.getrandbits(64) - (1 << 63) for _ in range(BITSET_VOCAB_MAX - 2)]
    vocab += [-(1 << 63), (1 << 63) - 1]
    sets = _random_sets(rng, 80, vocab)
    toks = _toks_frame(spark, sets)
    cand = _all_pairs(spark, sorted(sets)).localCheckpoint(eager=True)
    masks = _token_mask_frame(toks)
    assert masks is not None  # 64 distinct tokens: at the guard boundary

    for stage in (_exact_verify_stage, _lsh_verify_stage):
        via_arrays = sorted(map(tuple, stage(cand, toks).collect()))
        via_masks = sorted(map(tuple, stage(cand, toks, masks).collect()))
        assert via_masks == via_arrays, stage.__name__
        assert via_arrays, f"{stage.__name__}: degenerate fixture (no pairs)"


def test_vocab_guard_falls_back_above_64(spark):
    rng = random.Random(7)
    vocab = [rng.getrandbits(64) - (1 << 63) for _ in range(BITSET_VOCAB_MAX + 1)]
    sets = {i: rng.sample(vocab, rng.randint(1, len(vocab))) for i in range(20)}
    assert _token_mask_frame(_toks_frame(spark, sets)) is None


def test_mask_frame_counts_are_set_sizes(spark):
    rng = random.Random(3)
    vocab = [rng.getrandbits(64) - (1 << 63) for _ in range(30)]
    sets = {i: rng.sample(vocab, rng.randint(1, 30)) for i in range(40)}
    masks = _token_mask_frame(_toks_frame(spark, sets))
    rows = {r["doc_id"]: r for r in masks.collect()}
    for i, v in sets.items():
        assert rows[i]["n"] == len(set(v))
        assert bin(rows[i]["mask"] & ((1 << 64) - 1)).count("1") == len(set(v))


def test_prefix_frame_fast_path_matches_window_path(spark):
    """r16 small-vocab prefix fast path (collected df map + array_sort +
    slice) must emit the IDENTICAL (doc_id, n, rnk, w) prefix rows as the
    general explode -> df-join -> window build — same (df, w) total order."""
    import guidance_for_sap_data_integration_and_management_on_aws_spark.operators.dedup as D

    rng = random.Random(11)
    vocab = [rng.getrandbits(64) - (1 << 63) for _ in range(40)]
    sets = _random_sets(rng, 60, vocab)
    toks = _toks_frame(spark, sets)
    for t in (0.6, 0.7):  # the jaccard and containment thresholds
        fast, p, q = D._pruned_prefix_frame(toks, t)
        old = D.BITSET_VOCAB_MAX
        try:
            D.BITSET_VOCAB_MAX = 0  # force the window path
            slow, p2, q2 = D._pruned_prefix_frame(toks, t)
        finally:
            D.BITSET_VOCAB_MAX = old
        assert (p, q) == (p2, q2)
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, slow.collect())
        ), f"t={t}"


def test_incremental_jaccard_wide_vocab_matches_oracle(spark, tmp_path):
    """Past the 64-token guard, dedup_incremental_jaccard takes the array
    kernel of the shared verify stage and must still hash-match its DuckDB
    oracle.  Six clusters of five near-duplicate docs (doc_id % 5 == 0 is
    the batch member) over a 102-token vocabulary."""
    import duckdb

    from guidance_for_sap_data_integration_and_management_on_aws_spark.operators.dedup import (
        _token_masks,
        dedup_incremental_jaccard,
    )
    from tests.oracle_harness import compare

    rows = []
    for c in range(6):
        base = [f"c{c}w{j}" for j in range(12)]
        for m in range(5):
            # each member swaps one base token for its own variant token
            words = base[:m] + [f"c{c}v{m}"] + base[m + 1 :]
            rows.append((c * 5 + m, " ".join(words)))
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    con.execute(f"COPY docs TO '{tmp_path}/documents.parquet' (FORMAT parquet)")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    sf = str(tmp_path)
    assert _token_masks(spark, sf) is None  # vocabulary too wide for a mask
    q = dedup_incremental_jaccard
    got = q.builder(spark, sf)
    assert got.count() == 6 * 4  # every batch doc matches its four corpus twins
    compare(got, con, q.oracle, q.builder.__name__)
