"""Round-8 operator tests: chunked-body reassembly at high chunk counts,
JSONL ingestion, NN-descent, span byte-verify, MP4 container metadata.
The round's quantile-sketch tests live in test_sketches.py."""

from __future__ import annotations

import time


def _chunked(payload: bytes, chunk_size: int) -> bytes:
    parts = []
    for i in range(0, len(payload), chunk_size):
        c = payload[i : i + chunk_size]
        parts.append(f"{len(c):x}".encode() + b"\r\n" + c + b"\r\n")
    parts.append(b"0\r\n\r\n")
    return b"".join(parts)


def test_dechunk_many_chunks_value_and_linear_time():
    """A 2 MB body in 2,048 one-KiB chunks must reassemble exactly and in
    time linear in the body size — the ``out += chunk`` regression (each
    chunk recopying the accumulated prefix) makes the 4x-chunk case ~16x
    slower instead of ~4x; the wall-clock ratio gate catches it without
    being brittle about absolute speed."""
    from bigdata_capstone_spark.operators.webingest import _dechunk

    payload = bytes(range(256)) * (2 * 1024 * 1024 // 256)
    body = _chunked(payload, 1024)
    assert _dechunk(body) == payload

    # chunk extensions after ';' are ignored
    assert _dechunk(b"3;ext=1\r\nabc\r\n0\r\n\r\n") == b"abc"

    def t(n_chunks: int) -> float:
        data = _chunked(b"x" * (1024 * n_chunks), 1024)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            _dechunk(data)
            best = min(best, time.perf_counter() - t0)
        return best

    t1, t4 = t(512), t(2048)
    # linear: ratio ~4; quadratic: ratio ~16. Allow generous noise.
    assert t4 / max(t1, 1e-9) < 9.0, (t1, t4)


# ---------------------------------------------------------------------------
# JSONL ingestion quarantine
# ---------------------------------------------------------------------------


def test_read_jsonl_quarantines_malformed_lines(spark, tmp_path):
    from bigdata_capstone_spark.sources.tables import read_jsonl
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    p = tmp_path / "in.jsonl"
    lines = [
        '{"doc_id": 1, "text": "hello"}',
        "not json",
        '{"doc_id": 2, "text": "unicode \\u00e9 and \\"quotes\\""}',
        '{"doc_id": 3,',
        '{"text": "missing id is FINE, not corrupt"}',
    ]
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    out = read_jsonl(spark, str(p), schema).collect()
    good = {r["doc_id"]: r["text"] for r in out if r["_corrupt_record"] is None}
    bad = sorted(r["_corrupt_record"] for r in out if r["_corrupt_record"] is not None)
    assert good == {
        1: "hello",
        2: 'unicode é and "quotes"',
        None: "missing id is FINE, not corrupt",
    }
    assert bad == ["not json", '{"doc_id": 3,']


def test_read_jsonl_rejects_colliding_quarantine_column(spark):
    import pytest
    from bigdata_capstone_spark.sources.tables import read_jsonl
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("_corrupt_record", T.StringType())])
    with pytest.raises(ValueError):
        read_jsonl(spark, "/nonexistent", schema)


# ---------------------------------------------------------------------------
# NN-descent graph ANN
# ---------------------------------------------------------------------------


def _graph_recall_vs_exact(spark, emb, graph_df, k):
    """Mean per-node recall of graph_df's edge set vs the exact top-k
    graph (same rounding + (cosine DESC, dst) tie-break total order)."""
    from bigdata_capstone_spark.functions.portable import dot_product_col
    from bigdata_capstone_spark.operators.relational import grouped_top_k
    from pyspark.sql import functions as F

    a = emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("sv"))
    b = emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("dv"))
    scored = (
        a.crossJoin(b)
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.round(
                dot_product_col(F.col("sv"), F.col("dv"))
                / (
                    F.sqrt(dot_product_col(F.col("sv"), F.col("sv")))
                    * F.sqrt(dot_product_col(F.col("dv"), F.col("dv")))
                ),
                6,
            ).alias("cosine_r"),
        )
    )
    exact = grouped_top_k(
        scored, ["src"], [F.desc("cosine_r"), F.col("dst")], k, rank_col="rk"
    )
    truth = {(r["src"], r["dst"]) for r in exact.collect()}
    got = {(r["src"], r["dst"]) for r in graph_df.collect()}
    n_nodes = len({s for s, _ in truth})
    return len(truth & got) / (n_nodes * k)


def test_nn_descent_recall_monotone_and_beats_seed(spark, sf_small):
    """Per-round recall vs the exact KNN graph is non-decreasing (the
    candidate pool only grows under one total order — a guarantee of
    the construction, checked end-to-end), and the refined graph's
    recall is >= the LSH seed's."""
    from bigdata_capstone_spark.operators.simsearch import knn_graph, nn_descent
    from bigdata_capstone_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings").cache()
    k = 5
    seed = knn_graph(emb, dim=64, k=k, n_planes=6, n_tables=2, max_bucket=100)
    recalls = [_graph_recall_vs_exact(spark, emb, seed, k)]
    for rounds in (1, 2):
        g = nn_descent(
            emb, dim=64, k=k, rounds=rounds, n_planes=6, n_tables=2,
            max_bucket=100,
        )
        recalls.append(_graph_recall_vs_exact(spark, emb, g, k))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] >= recalls[0]
    # the refinement must actually do something on the fixture — not a
    # vacuous pass where the seed is already exact
    assert recalls[0] < 1.0, recalls
    assert recalls[-1] > recalls[0], recalls


def test_nn_descent_per_node_kth_cosine_never_drops(spark, sf_small):
    """Stronger than recall: each node's k-th best cosine is monotone
    non-decreasing from seed to refined graph (the top-k keep can only
    improve under a growing candidate pool)."""
    from bigdata_capstone_spark.operators.simsearch import knn_graph, nn_descent
    from bigdata_capstone_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_small, "embeddings").cache()
    seed = knn_graph(emb, dim=64, k=5, n_planes=6, n_tables=2, max_bucket=100)
    ref = nn_descent(
        emb, dim=64, k=5, rounds=2, n_planes=6, n_tables=2, max_bucket=100
    )

    def worst(df):
        return {
            r["src"]: r["w"]
            for r in df.groupBy("src").agg(F.min("cosine_r").alias("w")).collect()
        }

    w0, w2 = worst(seed), worst(ref)
    assert set(w0) <= set(w2)
    assert all(w2[s] >= w0[s] for s in w0), "k-th cosine regressed"


# ---------------------------------------------------------------------------
# Repeated-span byte-verify
# ---------------------------------------------------------------------------


def test_span_byte_verify_discards_digest_collisions(spark):
    """Under a degenerate digest (every gram collides into one hash),
    every positional k-gram becomes a CANDIDATE hit — the byte-verify
    join must keep exactly the truly repeated phrase and discard all
    collision-born false positives, so the spans equal the md5-digest
    spans on a collision-free fixture. Real md5-60bit collisions cannot
    be synthesized; the injectable digest is the honest way to exercise
    the collision path."""
    from bigdata_capstone_spark.operators.dedup import (
        _merged_hit_spans,
        tokenized,
    )
    from pyspark.sql import functions as F

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two three four five six seven eight {shared} tail1a tail1b"),
            (2, f"{shared} red orange yellow green blue indigo violet pink"),
            (3, "completely different words nine ten eleven twelve thirteen fourteen"),
        ],
        "doc_id LONG, text STRING",
    )
    toks = tokenized(docs, "text", "doc_id").cache()

    def spans(digest):
        return sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in _merged_hit_spans(
                toks, "doc_id", 8, 2, gram_digest=digest
            ).collect()
        )

    collide_all = lambda c: F.lit(1).cast("long")  # noqa: E731
    got = spans(collide_all)
    assert got == spans(None)  # == the md5 path on a collision-free fixture
    # and the spans are exactly the planted shared phrase
    assert got == [(1, 9, 16), (2, 1, 8)], got


def test_span_verify_keeps_real_repeats_under_md5(spark, sf_oracle):
    """The verify join must be a no-op on real data (no collisions at
    fixture scale): repeated_span_stats output is non-empty and every
    covered_frac is in (0, 1]."""
    from bigdata_capstone_spark.operators.dedup import repeated_span_stats
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_oracle, "documents")
    rows = repeated_span_stats(docs).collect()
    assert rows, "fixture should contain repeated spans"
    assert all(0 < r["covered_frac"] <= 1 for r in rows)


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF metadata walk (pure-Python pieces; the Spark entry is
# oracle-gated in the catalog)
# ---------------------------------------------------------------------------


def _mini_mp4(order="normal", large_mdat=False, extra_top=False):
    from bigdata_capstone_spark.operators.multimodal import _mp4_box

    def u32(v):
        return v.to_bytes(4, "big")

    def u16(v):
        return v.to_bytes(2, "big")

    matrix = b"".join(
        u32(x) for x in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    )
    tkhd = _mp4_box(
        b"tkhd",
        u32(7) + u32(0) + u32(0) + u32(1) + u32(0) + u32(0) + b"\x00" * 8
        + u16(0) * 4 + matrix + u32(320 << 16) + u32(180 << 16),
    )
    mdhd = _mp4_box(
        b"mdhd",
        u32(0) * 3 + u32(90000) + u32(90000 * 2)
        + u16((5 << 10) | (14 << 5) | 7) + u16(0),  # 'eng'
    )
    hdlr = _mp4_box(b"hdlr", u32(0) + u32(0) + b"vide" + b"\x00" * 12 + b"\x00")
    eb = b"\x00" * 6 + u16(1) + b"\x00" * 16 + u16(320) + u16(180)
    entry = (8 + len(eb)).to_bytes(4, "big") + b"avc1" + eb
    stsd = _mp4_box(b"stsd", u32(0) + u32(1) + entry)
    mdia = _mp4_box(
        b"mdia", mdhd + hdlr + _mp4_box(b"minf", _mp4_box(b"stbl", stsd))
    )
    mvhd = _mp4_box(
        b"mvhd",
        u32(0) * 3 + u32(1000) + u32(2000) + u32(0x10000) + u16(0x100)
        + u16(0) + b"\x00" * 8 + matrix + b"\x00" * 24 + u32(2),
    )
    moov = _mp4_box(b"moov", mvhd + _mp4_box(b"trak", tkhd + mdia)
                    + _mp4_box(b"skip", b"zz"))
    mdat = _mp4_box(b"mdat", b"\xde\xad" * 50, large=large_mdat)
    ftyp = _mp4_box(b"ftyp", b"isom" + u32(0x200) + b"isomiso2")
    mid = _mp4_box(b"free", b"\x00" * 8) if extra_top else b""
    if order == "streaming":
        return ftyp + mid + mdat + moov
    return ftyp + mid + moov + mdat


def test_mp4_walk_layout_invariance():
    """Identical metadata from progressive and streaming layouts, with
    and without largesize mdat and unknown top-level boxes — box ORDER
    must never matter to the walk."""
    from bigdata_capstone_spark.operators.multimodal import _mp4_metadata

    expected = [
        {
            "major_brand": "isom", "mvhd_timescale": 1000,
            "mvhd_duration_ms": 2000, "track_id": 1, "handler": "vide",
            "codec": "avc1", "timescale": 90000, "duration_ms": 2000,
            "width": 320, "height": 180, "lang": "eng",
        }
    ]
    for order in ("normal", "streaming"):
        for large in (False, True):
            for extra in (False, True):
                got = _mp4_metadata(
                    _mini_mp4(order, large_mdat=large, extra_top=extra)
                )
                assert got == expected, (order, large, extra, got)


def test_mp4_walk_raises_on_corruption():
    import pytest

    from bigdata_capstone_spark.operators.multimodal import _mp4_metadata

    blob = _mini_mp4()
    with pytest.raises(ValueError):
        _mp4_metadata(blob[:-5])  # truncated final box
    with pytest.raises(ValueError):
        _mp4_metadata(b"\x00\x00\x00\x09abcd")  # header overruns buffer
    with pytest.raises(ValueError):
        _mp4_metadata(blob[:24])  # ftyp alone — no moov


def _mini_exif_jpeg(bo="II", make=b"longmakername\x00"):
    def u16(v):
        return v.to_bytes(2, "little" if bo == "II" else "big")

    def u32(v):
        return v.to_bytes(4, "little" if bo == "II" else "big")

    data_off = 8 + 2 + 12 * 2 + 4
    entries = (
        u16(0x010F) + u16(2) + u32(len(make)) + u32(data_off)
        + u16(0x0112) + u16(3) + u32(1) + u16(6) + b"\x00\x00"
    )
    tiff = bo.encode() + u16(42) + u32(8) + u16(2) + entries + u32(0) + make
    exif = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + (2 + len(exif)).to_bytes(2, "big") + exif
    sof_body = bytes([8]) + (10).to_bytes(2, "big") + (20).to_bytes(2, "big") \
        + bytes([1, 1, 0x11, 0])
    sof = b"\xff\xc0" + (2 + len(sof_body)).to_bytes(2, "big") + sof_body
    return b"\xff\xd8" + app1 + sof + b"\xff\xd9"


def test_jpeg_exif_walk_both_byte_orders():
    from bigdata_capstone_spark.operators.multimodal import (
        _jpeg_header_metadata,
    )

    for bo in ("II", "MM"):
        meta = _jpeg_header_metadata(_mini_exif_jpeg(bo))
        assert meta["byte_order"] == bo
        assert meta["make"] == "longmakername"
        assert meta["orientation"] == 6
        assert (meta["width"], meta["height"]) == (20, 10)
        assert meta["jfif_version"] is None  # no APP0 in this fixture


def test_jpeg_exif_walk_raises_on_corruption():
    import pytest

    from bigdata_capstone_spark.operators.multimodal import (
        _jpeg_header_metadata,
    )

    blob = _mini_exif_jpeg()
    with pytest.raises(ValueError):
        _jpeg_header_metadata(b"PNG\x00")  # not a JPEG
    with pytest.raises(ValueError):
        _jpeg_header_metadata(blob[:-10])  # truncated mid-segment
    bad = blob.replace(b"II", b"XX", 1)
    with pytest.raises(ValueError):
        _jpeg_header_metadata(bad)  # unknown TIFF byte order


# ---------------------------------------------------------------------------
# Phrase search
# ---------------------------------------------------------------------------


def test_phrase_search_overlaps_and_duplicate_terms(spark):
    """Overlapping matches both count; phrases with REPEATED tokens only
    match where every term index is satisfied at its own offset (the
    countDistinct(term_idx) == m rule); no cross-doc or off-by-one
    anchors."""
    from bigdata_capstone_spark.operators.retrieval import (
        phrase_search,
        positional_postings,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),
            (2, "a a a"),
            (3, "b a b"),
            (4, "x y z"),
        ],
        "doc_id LONG, text STRING",
    )
    phrases = spark.createDataFrame(
        [("a b a",), ("a a",), ("z",)], "phrase STRING"
    )
    got = {
        (r["phrase"], r["doc_id"]): (r["n_matches"], r["first_pos"])
        for r in phrase_search(positional_postings(docs), phrases).collect()
    }
    assert got == {
        ("a b a", 1): (2, 1),   # anchors 1 and 3 overlap — both count
        ("a a", 2): (2, 1),     # "a a a": anchors 1, 2
        ("z", 4): (1, 3),       # single-token phrase
    }, got


# ---------------------------------------------------------------------------
# Stratified sampling
# ---------------------------------------------------------------------------


def test_stratified_sample_hamilton_quotas_and_partition_invariance(
    spark, sf_small
):
    """Exactly total_n rows; quotas are the Hamilton apportionment of
    stratum sizes (computed independently here); the member SET is
    identical after an adversarial repartition (panel must not drift
    when the corpus is re-sharded)."""
    from bigdata_capstone_spark.operators.sampling import stratified_sample
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").cache()
    total_n = 50
    out = stratified_sample(docs, "lang", "doc_id", total_n, seed=42)
    rows = out.collect()
    assert len(rows) == total_n

    sizes = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    n = sum(sizes.values())
    floor_q = {g: total_n * s // n for g, s in sizes.items()}
    rem = {g: (total_n * sizes[g]) % n for g in sizes}
    seats_left = total_n - sum(floor_q.values())
    order = sorted(sizes, key=lambda g: (-rem[g], g))
    expect_quota = {
        g: floor_q[g] + (1 if i < seats_left else 0)
        for i, g in enumerate(order)
    }
    got_quota = {r["lang"]: r["quota"] for r in rows}
    assert got_quota == {g: q for g, q in expect_quota.items() if q > 0}
    from collections import Counter

    per = Counter(r["lang"] for r in rows)
    assert dict(per) == {g: q for g, q in expect_quota.items() if q > 0}

    reparted = stratified_sample(
        docs.repartition(7, "doc_id"), "lang", "doc_id", total_n, seed=42
    )
    assert {(r["lang"], r["doc_id"]) for r in rows} == {
        (r["lang"], r["doc_id"]) for r in reparted.collect()
    }


def test_proximity_search_window_and_order(spark):
    """Ordered only (t2 AFTER t1), gap within window, every qualifying
    position pair counted."""
    from bigdata_capstone_spark.operators.retrieval import (
        positional_postings,
        proximity_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "a x b a b"),     # pairs (1,3) gap2, (1,5) gap4, (4,5) gap1, (4,3)? no (order)
            (2, "b a"),           # b BEFORE a only -> no ordered match
            (3, "a x y z b"),     # gap 4 > window
        ],
        "doc_id LONG, text STRING",
    )
    pairs = spark.createDataFrame([("a", "b")], "t1 STRING, t2 STRING")
    got = {
        r["doc_id"]: (r["n_matches"], r["min_gap"])
        for r in proximity_search(
            positional_postings(docs), pairs, window=3
        ).collect()
    }
    # doc 1: a@1,a@4; b@3,b@5 -> ordered gaps within 3: (1,3)=2, (4,5)=1
    assert got == {1: (2, 1)}, got
