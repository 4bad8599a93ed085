"""Round-9 operator tests: FullBox v1 parsing, EXIF bounds, ANALYZE
NDV budget, and the round's new operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# MP4 FullBox version handling (ADVICE r8: v1 boxes silently misparsed)
# ---------------------------------------------------------------------------


def _u(v: int, n: int) -> bytes:
    return v.to_bytes(n, "big")


def _v1_mp4(ms_dur: int = 90_000_000, track_id: int = 7,
            w: int = 320, h: int = 180) -> bytes:
    """Minimal ISO-BMFF file whose mvhd/tkhd/mdhd are all VERSION 1
    (64-bit creation/modification/duration) — the layout real muxers
    emit for recordings longer than the 32-bit second range."""
    from bigdata_capstone_spark.operators.multimodal import _mp4_box

    matrix = b"".join(
        _u(x, 4)
        for x in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    )
    mvhd = _mp4_box(
        b"mvhd",
        b"\x01\x00\x00\x00" + _u(0, 8) + _u(0, 8)          # v1, c/m 64-bit
        + _u(1000, 4) + _u(ms_dur, 8)                       # ts, dur64
        + _u(0x10000, 4) + _u(0x0100, 2) + b"\x00" * 10
        + matrix + b"\x00" * 24 + _u(99, 4),
    )
    tkhd = _mp4_box(
        b"tkhd",
        b"\x01\x00\x00\x07" + _u(0, 8) + _u(0, 8)           # v1
        + _u(track_id, 4) + _u(0, 4) + _u(ms_dur, 8)        # id, res, dur64
        + b"\x00" * 8 + _u(0, 2) * 4 + matrix
        + _u(w << 16, 4) + _u(h << 16, 4),
    )
    mdhd = _mp4_box(
        b"mdhd",
        b"\x01\x00\x00\x00" + _u(0, 8) + _u(0, 8)           # v1
        + _u(90000, 4) + _u(ms_dur * 90, 8)                 # ts, dur64
        + _u((5 << 10) | (14 << 5) | 7, 2) + _u(0, 2),      # 'eng'... see below
    )
    hdlr = _mp4_box(b"hdlr", _u(0, 4) + _u(0, 4) + b"vide"
                    + b"\x00" * 12 + b"x\x00")
    entry_body = b"\x00" * 6 + _u(1, 2) + b"\x00" * 16 + _u(w, 2) + _u(h, 2)
    entry = _u(8 + len(entry_body), 4) + b"avc1" + entry_body
    stsd = _mp4_box(b"stsd", _u(0, 4) + _u(1, 4) + entry)
    minf = _mp4_box(b"minf", _mp4_box(b"stbl", stsd))
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    trak = _mp4_box(b"trak", tkhd + mdia)
    moov = _mp4_box(b"moov", mvhd + trak)
    ftyp = _mp4_box(b"ftyp", b"isom" + _u(0x200, 4) + b"isomiso2")
    return ftyp + moov + _mp4_box(b"mdat", b"\xde\xad\xbe\xef")


def test_mp4_v1_fullboxes_parse_at_v1_offsets():
    from bigdata_capstone_spark.operators.multimodal import _mp4_metadata

    rows = _mp4_metadata(_v1_mp4())
    assert len(rows) == 1
    r = rows[0]
    assert r["mvhd_timescale"] == 1000
    assert r["mvhd_duration_ms"] == 90_000_000
    assert r["track_id"] == 7
    assert r["width"] == 320 and r["height"] == 180
    assert r["timescale"] == 90000
    assert r["duration_ms"] == 90_000_000
    # lang packed (5,14,7)+0x60 each = 'eng' per ISO 639-2/T packing
    assert r["lang"] == "eng"
    assert r["codec"] == "avc1"


def test_mp4_v1_matches_v0_on_shared_fields():
    """The same logical movie written v0 and v1 must walk to identical
    metadata — layout invariance across FullBox versions."""
    from bigdata_capstone_spark.operators.multimodal import _mp4_metadata

    v1 = _mp4_metadata(_v1_mp4(ms_dur=1200))
    assert v1[0]["mvhd_duration_ms"] == 1200
    assert v1[0]["duration_ms"] == 1200


def test_mp4_unknown_fullbox_version_raises():
    from bigdata_capstone_spark.operators.multimodal import _mp4_metadata

    blob = bytearray(_v1_mp4())
    # flip the mvhd version byte to 2 (find the mvhd fourcc, version
    # byte is the first body byte)
    i = blob.find(b"mvhd")
    blob[i + 4] = 2
    with pytest.raises(ValueError, match="unsupported mvhd box version"):
        _mp4_metadata(bytes(blob))


def test_exif_offset_stored_value_out_of_range_raises():
    from bigdata_capstone_spark.operators.multimodal import _exif_ifd0

    # big-endian TIFF, one IFD0 entry: Make (0x010F), ASCII, count 32,
    # value offset pointing past the end of the blob
    tiff = (
        b"MM" + _u(42, 2) + _u(8, 4)
        + _u(1, 2)                                   # 1 entry
        + _u(0x010F, 2) + _u(2, 2) + _u(32, 4)       # tag/type/count
        + _u(10_000, 4)                              # offset out of range
        + _u(0, 4)                                   # next-IFD pointer
    )
    with pytest.raises(ValueError, match="overruns TIFF blob"):
        _exif_ifd0(tiff)


# ---------------------------------------------------------------------------
# column_profile: all-null columns survive; exact NDV is budget-gated
# ---------------------------------------------------------------------------


def test_column_profile_all_null_column_and_ndv_budget(spark):
    from bigdata_capstone_spark.operators.maintenance import column_profile

    df = spark.range(0, 500).select(
        F.col("id").cast("long").alias("k"),          # NDV 500
        (F.col("id") % 3).cast("long").alias("m"),    # NDV 3
        F.lit(None).cast("string").alias("z"),        # all null
    )
    enc = [
        ("k", F.col("k"), F.col("k")),
        ("m", F.col("m"), F.col("m")),
        ("z", F.col("z"), F.col("z")),
    ]
    rows = {
        r["col_name"]: r
        for r in column_profile(df, enc, exact_ndv_budget=100).collect()
    }
    # the all-null column is PRESENT, with estimate 0 and exact 0
    assert set(rows) == {"k", "m", "z"}
    assert rows["z"]["n_nulls"] == 500
    assert rows["z"]["hll_ndv"] == 0.0
    assert rows["z"]["exact_ndv"] == 0
    assert rows["z"]["min_s"] is None and rows["z"]["max_s"] is None
    # over-budget column: exact NDV withheld, estimate stands
    assert rows["k"]["exact_ndv"] is None
    assert rows["k"]["hll_ndv"] > 100
    # under-budget column: exact NDV computed
    assert rows["m"]["exact_ndv"] == 3
    # budget=None forces exact everywhere (audit mode)
    audit = {
        r["col_name"]: r
        for r in column_profile(df, enc, exact_ndv_budget=None).collect()
    }
    assert audit["k"]["exact_ndv"] == 500


# ---------------------------------------------------------------------------
# stratified_sample two-phase threshold pick (r8 verdict Wrong #1)
# ---------------------------------------------------------------------------


def test_stratified_sample_safety_invariance(spark, sf_small):
    """The picked set is a pure function of (quotas, PRF order): every
    safety factor — including safety=1, which exercises the shortfall
    retry — must return the identical rows."""
    from bigdata_capstone_spark.operators.sampling import stratified_sample
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    base = {
        tuple(r)
        for r in stratified_sample(
            docs, "lang", "doc_id", 40, seed=7, safety=8
        ).collect()
    }
    assert len(base) == 40
    for s in (1, 64):
        got = {
            tuple(r)
            for r in stratified_sample(
                docs, "lang", "doc_id", 40, seed=7, safety=s
            ).collect()
        }
        assert got == base, f"safety={s} changed the picked set"


# ---------------------------------------------------------------------------
# Unicode tokenization + NFC normalization (r8 verdict Missing #1)
# ---------------------------------------------------------------------------


def test_unicode_tokens_no_per_character_explosion(spark):
    """CJK/Cyrillic text must tokenize into letter RUNS, not one token
    per character (the old ASCII-class regex degenerated every
    non-Latin script)."""
    from bigdata_capstone_spark.operators.textops import TOKEN_REGEX

    df = spark.createDataFrame(
        [(1, "你好世界这是测试"), (2, "Привет мир"), (3, "hello world 42")],
        "doc_id INT, text STRING",
    )
    rows = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id",
            F.size(
                F.regexp_extract_all("text", F.lit(TOKEN_REGEX), 0)
            ).alias("n"),
        ).collect()
    }
    assert rows[1] == 1, rows   # one CJK letter run, not 8 tokens
    assert rows[2] == 2, rows   # two Cyrillic words
    assert rows[3] == 3, rows   # ASCII behavior unchanged


def test_nfc_normalization_unifies_decomposed_text(spark):
    """Composed and decomposed forms of the same visible text must be
    byte-identical after nfc_normalize_col — so dedup hashes, shingles
    and BM25 terms agree."""
    from bigdata_capstone_spark.operators.textops import nfc_normalize_col

    composed = "d\u00e9j\u00e0 vu caf\u00e9"
    decomposed = "de\u0301ja\u0300 vu cafe\u0301"
    assert composed != decomposed
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, None)],
        "doc_id INT, text STRING",
    )
    out = {
        r["doc_id"]: r["norm"]
        for r in df.select(
            "doc_id", nfc_normalize_col("text").alias("norm")
        ).collect()
    }
    assert out[1] == out[2] == composed
    assert out[3] is None


def test_read_csv_quarantine_routes_bad_lines(spark, tmp_path):
    from pyspark.sql import types as T

    from bigdata_capstone_spark.sources.tables import read_csv_quarantine

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    p = tmp_path / "in.csv"
    p.write_text(
        "1,alice,2.5\n"
        "notanumber,bob,3.5\n"          # uncastable id -> quarantined
        "3,carol,notadouble\n"          # uncastable score -> quarantined
        '4,"d,quoted",9.25\n'           # quoted comma -> good
    )
    out = read_csv_quarantine(spark, str(p), schema).cache()
    good = out.filter(F.col("_corrupt_record").isNull())
    bad = out.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert {r["name"] for r in good.collect()} == {"alice", "d,quoted"}
    quarantined = {r["_corrupt_record"] for r in bad.collect()}
    assert quarantined == {
        "notanumber,bob,3.5",
        "3,carol,notadouble",
    }
    # declared schema + quarantine column must collide loudly
    bad_schema = T.StructType(
        list(schema.fields)
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    with pytest.raises(ValueError, match="quarantine column"):
        read_csv_quarantine(spark, str(p), bad_schema)


# ---------------------------------------------------------------------------
# NN-descent incremental insert (r8 verdict Missing #3)
# ---------------------------------------------------------------------------


def _insert_fixture(spark, sf_small):
    from bigdata_capstone_spark.operators.simsearch import knn_graph
    from bigdata_capstone_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings").cache()
    old = emb.filter(F.col("vec_id") % 8 != 0)
    batch = emb.filter(F.col("vec_id") % 8 == 0)
    graph = knn_graph(
        old, dim=64, k=5, n_planes=6, n_tables=2, max_bucket=100
    ).localCheckpoint(eager=True)
    return emb, old, batch, graph


def test_nn_insert_untouched_nodes_bit_identical(spark, sf_small):
    """A node that shares no surviving bucket with the batch and is not
    a direct neighbor of a batch node must keep its EXACT edge rows —
    the MERGE-only-touched-partitions contract."""
    from bigdata_capstone_spark.operators.simsearch import (
        nn_descent_insert,
        rp_lsh_buckets,
    )

    emb, old, batch, graph = _insert_fixture(spark, sf_small)
    final = nn_descent_insert(
        graph, old, batch, dim=64, k=5, n_planes=6, n_tables=2,
        max_bucket=100,
    ).cache()
    new_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    # recompute the union-capped bucket contact set
    bo = rp_lsh_buckets(old, 64, 6, 2)
    bn = rp_lsh_buckets(batch, 64, 6, 2)
    sizes = (
        bo.select("table", "bucket")
        .unionByName(bn.select("table", "bucket"))
        .groupBy("table", "bucket")
        .count()
        .filter(F.col("count") <= 100)
        .select("table", "bucket")
    )
    contact = {
        r["vec_id"]
        for r in bo.join(sizes, ["table", "bucket"], "left_semi")
        .join(
            bn.join(sizes, ["table", "bucket"], "left_semi")
            .select("table", "bucket")
            .distinct(),
            ["table", "bucket"],
            "left_semi",
        )
        .select("vec_id")
        .distinct()
        .collect()
    }
    # direct neighbors of batch nodes in the final graph (either
    # direction), the refinement scope
    neigh = set()
    for r in final.collect():
        if r["src"] in new_ids:
            neigh.add(r["dst"])
        if r["dst"] in new_ids:
            neigh.add(r["src"])
    allowed_changed = new_ids | contact | neigh
    before = {}
    for r in graph.collect():
        before.setdefault(r["src"], set()).add(
            (r["dst"], r["cosine_r"], r["rank"])
        )
    after = {}
    for r in final.collect():
        after.setdefault(r["src"], set()).add(
            (r["dst"], r["cosine_r"], r["rank"])
        )
    changed = {
        s
        for s in set(before) | set(after)
        if before.get(s) != after.get(s)
    }
    assert changed <= allowed_changed, changed - allowed_changed
    # and some untouched node really exists + survived verbatim
    untouched = set(before) - allowed_changed
    assert untouched, "fixture degenerate: every node touched"


def test_nn_insert_recall_not_worse_than_fresh_lsh_seed(spark, sf_small):
    """For the batch nodes, the insert's candidate pool is a superset
    of a from-scratch LSH knn_graph's pool (same union-capped buckets)
    plus the refinement proposals, under the same keep rule — so
    recall vs exact top-k must be >= the fresh LSH seed's recall."""
    from bigdata_capstone_spark.operators.simsearch import (
        brute_force_topk,
        knn_graph,
        nn_descent_insert,
    )

    emb, old, batch, graph = _insert_fixture(spark, sf_small)
    final = nn_descent_insert(
        graph, old, batch, dim=64, k=5, n_planes=6, n_tables=2,
        max_bucket=100,
    )
    fresh = knn_graph(
        emb, dim=64, k=5, n_planes=6, n_tables=2, max_bucket=100
    )
    exact = brute_force_topk(emb, batch, k=5).select(
        F.col("query_id").alias("src"), F.col("vec_id").alias("dst")
    )
    new_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}

    def recall(g):
        got = g.select("src", "dst").join(
            exact, on=["src", "dst"], how="left_semi"
        )
        hits = sum(1 for r in got.collect() if r["src"] in new_ids)
        total = exact.count()
        return hits / total

    r_final = recall(final)
    r_seed = recall(fresh)
    assert r_final >= r_seed, (r_final, r_seed)
    # absolute floor is modest: the fixture embeddings are near-uniform
    # (max pairwise cosine ~0.5), the hardest ANN regime
    assert r_final > 0.1, r_final


def test_grouped_prefix_sum_matches_single_window(spark, sf_small):
    """grouped_prefix_sum must be bit-identical to the naive per-group
    window it replaces, for both inclusive and exclusive variants."""
    from pyspark.sql.window import Window

    from bigdata_capstone_spark.operators.relational import (
        grouped_prefix_sum,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events").select(
        "event_type", "event_id", (F.col("event_id") % 100).alias("v")
    )
    for inclusive in (True, False):
        got = {
            (r["event_type"], r["event_id"]): r["ps"]
            for r in grouped_prefix_sum(
                ev,
                ["event_type"],
                [F.col("event_id")],
                F.col("v"),
                "ps",
                num_partitions=7,
                inclusive=inclusive,
            ).collect()
        }
        end = Window.currentRow if inclusive else -1
        w = (
            Window.partitionBy("event_type")
            .orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, end)
        )
        want = {
            (r["event_type"], r["event_id"]): r["ps"]
            for r in ev.withColumn(
                "ps", F.coalesce(F.sum("v").over(w), F.lit(0))
            ).collect()
        }
        assert got == want, f"inclusive={inclusive}"


def test_grouped_top_k_twophase_matches_single_window(spark, sf_small):
    """Two-phase grouped top-k must be row-identical to grouped_top_k
    for both tie semantics."""
    from bigdata_capstone_spark.operators.relational import (
        grouped_top_k,
        grouped_top_k_twophase,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select(
        "source", "doc_id", (F.col("n_chars") % 50).alias("v")  # many ties
    )
    # row_number needs a total order; rank exercises boundary ties
    # (order by v alone — the tied row SET is still deterministic)
    for method, order in (
        ("row_number", [F.desc("v"), F.col("doc_id")]),
        ("rank", [F.desc("v")]),
    ):
        a = {
            tuple(r)
            for r in grouped_top_k(
                docs, ["source"], order, 7, method=method, rank_col="rk",
            ).collect()
        }
        b = {
            tuple(r)
            for r in grouped_top_k_twophase(
                docs, ["source"], order, 7,
                sub_key=["doc_id"], n_sub=5, method=method, rank_col="rk",
            ).collect()
        }
        assert a == b, method


def test_multilingual_nfc_makes_decomposed_twin_dedup_and_retrieve(
    spark, sf_small
):
    """Docs 5 (composed) and 6 (decomposed) of the multilingual fixture
    are the same visible sentence: after NFC they must (a) dedup at
    jaccard exactly 1.0 and (b) retrieve each other as the TOP BM25
    hit — without normalization their shingles/postings are
    byte-disjoint."""
    from bigdata_capstone_spark.catalog import QUERIES

    pairs = {
        (r["idA"], r["idB"]): r["jaccard_r"]
        for r in QUERIES["multilingual_shingle_dedup"](
            spark, sf_small
        ).collect()
    }
    assert pairs.get((5, 6)) == 1.0, pairs
    bm = QUERIES["multilingual_bm25_topk"](spark, sf_small).collect()
    top = {
        r["query_doc"]: r["doc_id"] for r in bm if r["rk"] == 1
    }
    assert top.get(5) == 6 and top.get(6) == 5, top


def test_script_profile_counts_and_dominant(spark):
    from bigdata_capstone_spark.operators.textops import script_profile

    df = spark.createDataFrame(
        [
            (1, "hello Привет"),       # latin 5, cyrillic 6 -> cyrillic
            (2, "12345 ,,,"),           # no letters -> none
            (3, "abcабв"),              # 3 vs 3 tie -> cyrillic (name ASC)
        ],
        "doc_id INT, text STRING",
    )
    rows = {r["doc_id"]: r for r in script_profile(df).collect()}
    assert rows[1]["n_latin"] == 5 and rows[1]["n_cyrillic"] == 6
    assert rows[1]["dominant_script"] == "cyrillic"
    assert rows[2]["dominant_script"] == "none"
    assert rows[3]["dominant_script"] == "cyrillic"


def test_stratified_panel_fold_matches_batch_sample(spark, sf_small):
    """The streaming panel state (sizes + total_n smallest hashes per
    stratum) folded over any batch split must pick the EXACT batch
    stratified sample — and the fold must be split-independent."""
    from bigdata_capstone_spark.operators.sampling import (
        stratified_panel_merge,
        stratified_panel_pick,
        stratified_panel_state,
        stratified_sample,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    batch_rows = {
        (r["lang"], str(r["doc_id"]), r["quota"], r["pick_rank"])
        for r in stratified_sample(
            docs, "lang", "doc_id", 60, seed=42
        ).collect()
    }

    def state_of(splits):
        parts = [
            stratified_panel_state(
                docs.filter(F.col("doc_id") % splits == i),
                "lang", "doc_id", 60, seed=42,
            )
            for i in range(splits)
        ]
        return stratified_panel_merge(parts, 60)

    for splits in (2, 4):
        got = {
            (r["stratum"], r["key"], r["quota"], r["pick_rank"])
            for r in stratified_panel_pick(state_of(splits), 60).collect()
        }
        assert got == batch_rows, f"splits={splits}"
    # split-independence of the STATE itself (canonical fold)
    s2 = {tuple(r) for r in state_of(2).collect()}
    s4 = {tuple(r) for r in state_of(4).collect()}
    assert s2 == s4


def test_stratified_panel_state_is_bounded(spark, sf_small):
    from collections import Counter

    from bigdata_capstone_spark.operators.sampling import (
        stratified_panel_state,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    total_n = 10
    rows = stratified_panel_state(
        docs, "lang", "doc_id", total_n
    ).collect()
    sizes = Counter(r["stratum"] for r in rows if r["key"] is None)
    pools = Counter(r["stratum"] for r in rows if r["key"] is not None)
    assert all(c == 1 for c in sizes.values()), sizes
    assert all(c <= total_n for c in pools.values()), pools
    assert set(pools) <= set(sizes)


def test_incremental_clusters_matches_rebuild_and_touch_contract(
    spark, sf_small
):
    """incremental_dedup_clusters == full-rebuild closure over
    (old pairs ∪ new pairs), and clusters untouched by the batch keep
    their exact assignment rows."""
    from bigdata_capstone_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
        incremental_dedup_clusters,
        incremental_near_dup_pairs,
        minhash_near_dup_pairs,
        near_dup_index,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", "text"
    ).cache()
    batch = docs.filter(F.col("doc_id") % 7 == 2).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    index = near_dup_index(docs, n_perm=8, bands=4, shingle_n=3)
    index = tuple(x.cache() for x in index)
    assignment = dedup_clusters(
        docs, n_perm=8, bands=4, min_jaccard=0.5, max_bucket_size=100
    ).select("doc_id", "cluster_id").cache()
    got = incremental_dedup_clusters(
        assignment, index, batch, n_perm=8, bands=4, shingle_n=3,
        min_jaccard=0.35, max_bucket_size=100,
    ).cache()
    # reference: closure over old pairs ∪ cross pairs ∪ internal pairs
    cross = incremental_near_dup_pairs(
        index, batch, n_perm=8, bands=4, shingle_n=3,
        min_jaccard=0.35, max_bucket_size=100,
    ).select(F.col("batch_id").alias("idA"), F.col("corpus_id").alias("idB"))
    internal = minhash_near_dup_pairs(
        batch, n_perm=8, bands=4, shingle_n=3, min_jaccard=0.35,
        max_bucket_size=None,
    ).select("idA", "idB")
    old_pairs = minhash_near_dup_pairs(
        docs, n_perm=8, bands=4, shingle_n=3, min_jaccard=0.5,
        max_bucket_size=100,
    ).select("idA", "idB")
    all_edges = old_pairs.unionByName(cross).unionByName(internal)
    labels = connected_components(all_edges, "idA", "idB")
    every = docs.select("doc_id").unionByName(batch.select("doc_id"))
    want_assign = {
        r["doc_id"]: r["component"]
        for r in every.join(
            labels.select(F.col("node").alias("doc_id"), "component"),
            on="doc_id",
            how="left",
        ).collect()
    }
    want = {
        k: (v if v is not None else k) for k, v in want_assign.items()
    }
    got_map = {r["doc_id"]: r["cluster_id"] for r in got.collect()}
    assert got_map == want
    # untouched clusters: every old doc whose cluster has no batch
    # member keeps its exact old cluster id
    touched = {
        v for k, v in got_map.items() if k >= 500000
    }
    for r in assignment.collect():
        if got_map[r["doc_id"]] not in touched:
            assert got_map[r["doc_id"]] == r["cluster_id"]
