"""Round-10 optimization round: focused tests for operators whose
INTERNALS changed (outputs must be identical — the oracle gate pins
entry-level equality; these pin the operator-level contracts the
rewrites must preserve)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bounded_row_number_matches_partitioned_row_number(spark):
    """The lazy theta-join ranker must agree with the prefix-sum ranker
    on a bounded slice for both ASC and DESC key orders."""
    from bigdata_capstone_spark.operators.relational import (
        bounded_row_number,
        partitioned_row_number,
    )

    df = (
        spark.range(0, 500)
        .select(
            (F.col("id") % 37).alias("v"),
            F.concat(F.lit("k"), F.col("id")).alias("k"),
        )
        .orderBy(F.desc("v"), F.col("k"))
        .limit(40)
    )
    got = {
        (r["k"], r["rank"])
        for r in bounded_row_number(
            df, [("v", False), ("k", True)], "rank"
        ).collect()
    }
    want = {
        (r["k"], r["rank"])
        for r in partitioned_row_number(
            df, [F.desc("v"), F.col("k")], "rank"
        ).collect()
    }
    assert got == want and len(got) == 40


def test_viterbi_equal_score_prefers_longer_piece(spark):
    """Tie-break contract of the single-pass DP: when two segmentations
    reach a position with EQUAL total score, the longer last piece wins
    (score DESC, plen DESC) — the exact rule the former per-position
    window argmax applied."""
    from bigdata_capstone_spark.operators.textops import (
        viterbi_segment_words,
    )

    vocab = spark.createDataFrame(
        [
            ("a", -1_000_000),
            ("b", -1_000_000),
            ("ab", -2_000_000),  # EXACTLY a+b: tie -> 'ab' must win
        ],
        "piece STRING, score_micro LONG",
    )
    words = spark.createDataFrame([("ab",)], "word STRING")
    out = viterbi_segment_words(
        words, vocab, max_piece_len=2, max_word_len=4
    ).collect()
    assert out[0]["pieces"] == "ab"
    assert out[0]["n_pieces"] == 1
    assert out[0]["score_micro"] == -2_000_000


def test_mmr_fold_tie_breaks_on_smaller_id(spark):
    """Greedy-pick tie contract of the fold rewrite: equal MMR scores
    pick the smaller vec_id (the former (mmr DESC, vec_id ASC) window
    order), and pick 1 reports relevance as mmr_r."""
    from bigdata_capstone_spark.operators.simsearch import mmr_rerank

    cands = spark.createDataFrame(
        [(1, 10, 0.9), (1, 20, 0.5), (1, 30, 0.5)],
        "query_id LONG, vec_id LONG, rel_r DOUBLE",
    )
    # 20 and 30 are equally similar to 10 -> equal penalty -> tie on
    # score -> 20 (smaller id) must be pick 2
    sims = spark.createDataFrame(
        [
            (1, 10, 20, 0.2), (1, 20, 10, 0.2),
            (1, 10, 30, 0.2), (1, 30, 10, 0.2),
            (1, 20, 30, 0.0), (1, 30, 20, 0.0),
        ],
        "query_id LONG, a LONG, b LONG, sim_r DOUBLE",
    )
    out = {r["pick"]: r for r in mmr_rerank(cands, sims, k=3).collect()}
    assert out[1]["vec_id"] == 10 and out[1]["mmr_r"] == 0.9
    assert out[2]["vec_id"] == 20
    assert out[3]["vec_id"] == 30


def test_prf_anchor_literal_preserves_order_and_dtype(spark):
    """prf_medoids' collected anchor table must number cells in (hash,
    id) order and carry the input vector dtype unchanged."""
    from bigdata_capstone_spark.functions.portable import md5_long
    from bigdata_capstone_spark.operators.simsearch import prf_medoids

    emb = spark.range(0, 50).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 4), d -> cast(id * d as float))"
        ).alias("embedding"),
    )
    med = prf_medoids(emb, 5)
    assert dict(med.dtypes)["center"] == "array<float>"
    got = {r["cell"]: r["center"] for r in med.collect()}
    want_ids = [
        r["vec_id"]
        for r in emb.select(
            "vec_id",
            md5_long(
                F.concat(F.lit("ivf:"), F.col("vec_id").cast("string"))
            ).alias("__h"),
        )
        .orderBy("__h", "vec_id")
        .limit(5)
        .collect()
    ]
    for i, vid in enumerate(want_ids):
        assert got[i] == [float(vid * d) for d in range(1, 5)]


def test_kmeans_literal_centers_match_previous_cached_form(spark):
    """kmeans_lloyd's driver round-trip must be value-invisible: the
    trained centers equal a reference implementation that keeps the
    per-round centroid frame distributed (the pre-r10 cached form)."""
    from bigdata_capstone_spark.operators.simsearch import (
        _kmeans_update,
        assign_cells,
        kmeans_lloyd,
        prf_medoids,
    )

    emb = spark.range(0, 200).select(
        F.col("id").alias("vec_id"),
        # id+1 so no row is the all-zero vector (cosine would divide by 0)
        F.expr(
            "transform(sequence(1, 8), d -> cast(sin((id + 1) * d) as float))"
        ).alias("embedding"),
    )
    got = {
        r["cell"]: r["center"]
        for r in kmeans_lloyd(emb, k=4, rounds=2, dim=8).collect()
    }
    centers = prf_medoids(emb, 4).select(
        "cell",
        F.transform("center", lambda x: x.cast("double")).alias("center"),
    )
    for _ in range(2):
        centers = centers.cache()
        asg = assign_cells(emb, centers, keep_vec=True)
        centers = _kmeans_update(asg, centers, 8)
    want = {r["cell"]: r["center"] for r in centers.collect()}
    assert got == want
