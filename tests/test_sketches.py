"""Sketch accuracy/soundness properties beyond the hash-equality oracle.

The catalog oracle proves Spark and DuckDB compute the SAME sketch; these
tests prove the sketch is a CORRECT sketch: CMS never underestimates,
both estimators land near the exact answer on known data, and the HLL
register grain is what makes it mergeable. The level-sampling quantile
sketch (``qsketch_*`` / ``wqsketch_*``) is pinned by its merge group law,
one-pass/declarative bit-identity and rank-error bounds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_capstone_spark.operators import sketches as sk


def _ids_df(spark, n, label):
    return spark.range(n).select(
        F.lit(label).alias("grp"), F.concat(F.lit(f"{label}-"), F.col("id")).alias("k")
    )


def test_hll_estimate_near_truth(spark):
    # 5000 distinct keys, duplicated 3x: duplicates must not move registers.
    base = _ids_df(spark, 5000, "a")
    df = base.union(base).union(base)
    [(grp, est, nreg)] = (
        sk.hll_estimate(df, ["grp"], F.col("k")).collect()
    )
    assert nreg == sk.HLL_M  # all 64 registers hit at this cardinality
    # m=64 raw HLL: standard error ~1.04/sqrt(64) = 13%; allow 3 sigma.
    assert abs(est - 5000) / 5000 < 0.4


def test_hll_duplicates_are_free(spark):
    once = sk.hll_registers(_ids_df(spark, 1000, "x"), ["grp"], F.col("k"))
    thrice = sk.hll_registers(
        _ids_df(spark, 1000, "x").union(_ids_df(spark, 1000, "x")), ["grp"], F.col("k")
    )
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, thrice.collect()))


def test_hll_empty_registers_estimate_zero(spark):
    # An all-empty stream leaves ZERO registers; the global estimator must
    # report 0 distinct, not alpha*m^2/m ≈ 45 from 64 phantom empty
    # registers (the read_latest_snapshot_or_empty path of
    # streaming_distinct_users_hll).
    empty = spark.createDataFrame([], "bucket BIGINT, rho_max INT")
    [(est, nreg)] = sk.hll_estimate_from_registers(empty, []).collect()
    assert est == 0.0 and nreg == 0
    # grouped path: no groups -> no rows, never a phantom estimate
    assert sk.hll_estimate_from_registers(
        empty.withColumn("grp", F.lit("g")), ["grp"]
    ).count() == 0


def test_hll_registers_merge_across_partitions(spark):
    # Mergeability: registers of (A ∪ B) == element-wise max of registers.
    a, b = _ids_df(spark, 800, "g"), _ids_df(spark, 800, "h").withColumn(
        "grp", F.lit("g")
    )
    union_regs = sk.hll_registers(a.union(b), ["grp"], F.col("k"))
    merged = (
        sk.hll_registers(a, ["grp"], F.col("k"))
        .union(sk.hll_registers(b, ["grp"], F.col("k")))
        .groupBy("grp", "bucket")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    assert sorted(map(tuple, union_regs.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_quantile_bins_merge_and_accuracy(spark):
    # Mergeability: bins of (A ∪ B) == per-bin sum of separate sketches;
    # accuracy: every reported quantile is within one bin width above the
    # exact order statistic.
    import numpy as np

    rs = np.random.RandomState(7)
    # shifted so ~1/4 of values are negative: bin = floor(v/w) must order
    # correctly through the sign change (floor, not trunc)
    vals = [float(v) - 30.0 for v in rs.gamma(4.0, 25.0, 4000)]
    half = len(vals) // 2
    a = spark.createDataFrame([("g", v) for v in vals[:half]], ["grp", "v"])
    b = spark.createDataFrame([("g", v) for v in vals[half:]], ["grp", "v"])
    u = a.union(b)
    w = 2.0
    union_bins = sk.quantile_bins(u, ["grp"], F.col("v"), w)
    merged = (
        sk.quantile_bins(a, ["grp"], F.col("v"), w)
        .union(sk.quantile_bins(b, ["grp"], F.col("v"), w))
        .groupBy("grp", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, union_bins.collect())) == sorted(
        map(tuple, merged.collect())
    )
    [row] = sk.quantiles_from_bins(union_bins, ["grp"], w).collect()
    assert row["n_rows"] == len(vals)
    svals = sorted(vals)
    import math

    for q in (0.5, 0.9, 0.99):
        exact = svals[math.ceil(q * len(svals)) - 1]
        est = row[f"p{int(q * 100)}"]
        assert exact <= est <= exact + w, (q, exact, est)


@pytest.fixture(scope="module")
def zipf_counts(spark):
    # Skewed frequencies: key i appears (50 - i) times for i in 0..49.
    rows = [(f"k{i}",) for i in range(50) for _ in range(50 - i)]
    return spark.createDataFrame(rows, ["k"])


def test_cms_never_underestimates_and_is_tight_here(spark, zipf_counts):
    counters = sk.cms_counters(zipf_counts, F.col("k"), d=4)
    assert counters.count() <= 4 * 256
    exact = zipf_counts.groupBy("k").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = sk.cms_point_estimates(counters, exact, "k", d=4)
    rows = est.collect()
    assert len(rows) == 50
    for r in rows:
        assert r.cms_estimate >= r.exact_cnt  # CMS is one-sided
    # 1275 total rows into 256 slots x 4 rows: collisions are rare enough
    # that at least the top key should be exact.
    top = max(rows, key=lambda r: r.exact_cnt)
    assert top.cms_estimate == top.exact_cnt


def test_bloom_no_false_negatives_and_bounded_fp(spark, sf_small):
    """Every inserted key must probe as present (no false negatives —
    the Bloom contract); false positives over a disjoint candidate set
    stay near the analytic k,m,n bound. Regression test for the
    element_at-on-map off-by-one that silently shifted every word of the
    dense bitmap (map lookup is BY KEY, not 1-based position)."""
    from pyspark.sql import functions as F

    from bigdata_capstone_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events")
    keys = ev.select(F.col("user_id").cast("string").alias("k")).distinct()
    n = keys.count()
    bm = bloom_build(keys, F.col("k"), 12, 4)
    present = bloom_probe(keys, bm, F.col("k"), 12, 4).count()
    assert present == n  # no false negatives
    absent = spark.range(1_000_000, 1_001_000).select(
        F.col("id").cast("string").alias("k")
    )
    fp = bloom_probe(absent, bm, F.col("k"), 12, 4).count()
    # analytic FP ~ (1 - exp(-k n / m))^k; generous 5x headroom
    import math

    p = (1 - math.exp(-4 * n / 4096)) ** 4
    assert fp <= max(5, 5 * p * 1000), (fp, p)


def test_quantiles_from_bins_guards(spark):
    """ADVICE r4: empty group_cols would plan the banned single-partition
    window — must raise; and sub-percent quantile labels must not collide
    (int(q*100) mapped 0.999 and 0.99 both to p99)."""
    import pytest

    df = spark.createDataFrame([("g", float(v)) for v in range(100)], ["grp", "v"])
    bins = sk.quantile_bins(df, ["grp"], F.col("v"), 2.0)
    with pytest.raises(ValueError, match="group_cols"):
        sk.quantiles_from_bins(bins, [], 2.0)
    [row] = sk.quantiles_from_bins(
        bins, ["grp"], 2.0, qs=(0.99, 0.999)
    ).collect()
    assert "p99" in row.asDict() and "p99_9" in row.asDict()
    assert row["p99_9"] >= row["p99"]
    with pytest.raises(ValueError, match="collide"):
        # identical labels after formatting must be rejected loudly
        sk.quantiles_from_bins(bins, ["grp"], 2.0, qs=(0.5, 0.5))


# ---------------------------------------------------------------------------
# Level-sampling quantile sketch (qsketch_* / wqsketch_*): merge law,
# one-pass kernel, rank-error bounds, weighted rung
# ---------------------------------------------------------------------------


def _collect_state(state):
    return sorted(
        (r["qs_id"], r["value"], r["lvl"], r["thr"]) for r in state.collect()
    )


def test_qsketch_split_independence_bitwise(spark, sf_small):
    """merge(state(A), state(B)) == state(A ∪ B) BIT-FOR-BIT — the exact
    group law PRF coins buy, including the adversarial split where one
    shard's items all sit at high levels (the integer-minimal-threshold
    case a present-level-minimum rule gets wrong)."""
    from bigdata_capstone_spark.operators.sketches import (
        qsketch_build,
        qsketch_merge,
    )
    from bigdata_capstone_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_small, "events").cache()
    cap = 64
    full = qsketch_build(ev, F.col("event_id"), F.col("value"), cap)

    # 2-way split on parity
    parts = [
        qsketch_build(
            ev.filter(F.col("event_id") % 2 == i),
            F.col("event_id"),
            F.col("value"),
            cap,
        )
        for i in range(2)
    ]
    assert _collect_state(qsketch_merge(parts, cap)) == _collect_state(full)

    # adversarial split: one side gets ONLY the high-level survivors of
    # the full build (its own thr lands high), the other the rest
    kept_ids = {r["qs_id"] for r in full.collect()}
    hi = ev.filter(
        F.col("event_id").cast("string").isin(*sorted(kept_ids))
    )
    lo = ev.filter(
        ~F.col("event_id").cast("string").isin(*sorted(kept_ids))
    )
    parts2 = [
        qsketch_build(s, F.col("event_id"), F.col("value"), cap)
        for s in (hi, lo)
    ]
    assert _collect_state(qsketch_merge(parts2, cap)) == _collect_state(full)


def test_qsketch_merge_associativity_and_order(spark, sf_small):
    from bigdata_capstone_spark.operators.sketches import (
        qsketch_build,
        qsketch_merge,
    )
    from bigdata_capstone_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_small, "events").cache()
    cap = 64
    shards = [
        qsketch_build(
            ev.filter(F.col("event_id") % 3 == i),
            F.col("event_id"),
            F.col("value"),
            cap,
        )
        for i in range(3)
    ]
    flat = qsketch_merge(shards, cap)
    nested = qsketch_merge(
        [qsketch_merge([shards[2], shards[0]], cap), shards[1]], cap
    )
    assert _collect_state(flat) == _collect_state(nested)


def test_qsketch_rank_error_within_dkw_bound(spark, sf_oracle):
    """Estimated quantiles' TRUE ranks stay within the DKW sampling bound
    ε = sqrt(ln(2/δ)/(2m)) at δ=0.02 of the target rank. The hash is a
    fixed PRF, so this is deterministic — if it passes once it always
    passes; it fails only if the estimator or the sampler regresses."""
    import math

    from bigdata_capstone_spark.operators.sketches import (
        qsketch_build,
        qsketch_quantiles,
    )
    from bigdata_capstone_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_oracle, "events").cache()
    n = ev.count()
    cap = 512
    state = qsketch_build(ev, F.col("event_id"), F.col("value"), cap)
    qs = (0.25, 0.5, 0.75, 0.9, 0.99)
    row = qsketch_quantiles(state, qs).collect()[0]
    m = row["n_kept"]
    assert cap // 2 < m <= cap, m
    eps = math.sqrt(math.log(2 / 0.02) / (2 * m))
    vals = sorted(r["value"] for r in ev.select("value").collect())
    for q, lbl in zip(qs, ("25", "50", "75", "90", "99")):
        est = row[f"p{lbl}_r"]
        true_rank = sum(1 for v in vals if v <= est) / n
        assert abs(true_rank - q) <= eps, (q, est, true_rank, eps)


def test_qsketch_empty_and_tiny_inputs(spark):
    from bigdata_capstone_spark.operators.sketches import (
        qsketch_build,
        qsketch_quantiles,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id LONG, v DOUBLE"
    )
    state = qsketch_build(df, F.col("id"), F.col("v"), 64)
    # under capacity: thr = 0, everything kept, quantiles EXACT
    rows = state.collect()
    assert len(rows) == 10 and all(r["thr"] == 0 for r in rows)
    est = qsketch_quantiles(state, (0.5, 1.0)).collect()[0]
    assert est["n_kept"] == 10
    assert est["p50_r"] == 4.0  # ceil(0.5*10) = 5th of 0..9 = 4.0
    assert est["p100_r"] == 9.0

    empty = qsketch_build(
        df.filter(F.col("id") < 0), F.col("id"), F.col("v"), 64
    )
    assert empty.count() == 0


def test_qsketch_grouped_split_independence(spark, sf_small):
    """The per-group merge law: qsketch_grouped_merge of shard states
    equals the one-shot grouped build bit-for-bit."""
    from bigdata_capstone_spark.operators.sketches import (
        qsketch_grouped_build,
        qsketch_grouped_merge,
    )
    from bigdata_capstone_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_small, "events").cache()
    cap = 64
    full = qsketch_grouped_build(
        ev, ["event_type"], F.col("event_id"), F.col("value"), cap
    )
    shards = [
        qsketch_grouped_build(
            ev.filter(F.col("event_id") % 2 == i),
            ["event_type"],
            F.col("event_id"),
            F.col("value"),
            cap,
        )
        for i in range(2)
    ]
    merged = qsketch_grouped_merge(shards, ["event_type"], cap)

    def key(df):
        return sorted(tuple(r) for r in df.collect())

    assert key(merged) == key(full)


def test_qsketch_sequential_fold_thr_clamp(spark, sf_oracle):
    """The streaming-shaped SEQUENTIAL fold (merge one shard at a time)
    equals the one-shot build bit-for-bit — global and grouped. This is
    the case that caught the floor-clamp bug: when the carried floor
    already equals the from-scratch threshold, the floored survivors
    fit capacity and an unclamped recompaction records thr = 0 (kept
    rows matched; the thr column drifted)."""
    from bigdata_capstone_spark.operators.sketches import (
        qsketch_build,
        qsketch_grouped_build,
        qsketch_grouped_merge,
        qsketch_merge,
    )
    from bigdata_capstone_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_oracle, "events").cache()

    full = qsketch_build(ev, F.col("event_id"), F.col("value"), 512)
    state = None
    for i in range(4):
        p = qsketch_build(
            ev.filter(F.col("event_id") % 4 == i),
            F.col("event_id"), F.col("value"), 512,
        )
        state = p if state is None else qsketch_merge([state, p], 512)
    assert _collect_state(state) == _collect_state(full)

    gfull = qsketch_grouped_build(
        ev, ["event_type"], F.col("event_id"), F.col("value"), 256
    )
    gstate = None
    for i in range(4):
        p = qsketch_grouped_build(
            ev.filter(F.col("event_id") % 4 == i),
            ["event_type"], F.col("event_id"), F.col("value"), 256,
        )
        gstate = (
            p if gstate is None
            else qsketch_grouped_merge([gstate, p], ["event_type"], 256)
        )
    assert sorted(map(tuple, gstate.collect())) == sorted(
        map(tuple, gfull.collect())
    )


def test_qsketch_onepass_bit_identical_to_declarative(spark, sf_small):
    from bigdata_capstone_spark.operators.sketches import (
        qsketch_build,
        qsketch_build_onepass,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events")
    two = qsketch_build(ev, F.col("event_id"), F.col("value"), 64)
    one = qsketch_build_onepass(ev, F.col("event_id"), F.col("value"), 64)
    t = {tuple(r) for r in two.collect()}
    o = {tuple(r) for r in one.collect()}
    assert t == o and len(t) > 0


def test_qsketch_onepass_partials_zero_shuffle_one_scan(spark, sf_small):
    """The partial pass is the ONLY corpus-touching job: its physical
    plan must contain exactly one file scan and ZERO Exchange nodes
    (level assignment is map-side, the fold is per-partition)."""
    import re

    from bigdata_capstone_spark.operators.sketches import (
        qsketch_partials_onepass,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events")
    partial = qsketch_partials_onepass(
        ev, F.col("event_id"), F.col("value"), 64
    )
    qe = partial._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = qe.explainString(mode.fromString("formatted"))
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, plan[:2000]
    exchanges = [
        ln
        for ln in plan.splitlines()
        if re.match(r"\s*\(\d+\) (Broadcast)?Exchange", ln)
    ]
    assert exchanges == [], plan[:2000]


def test_qsketch_onepass_partition_invariance(spark, sf_small):
    """Partials depend on the partition split; the merged state must
    not — re-partitioned input lands on identical bits."""
    from bigdata_capstone_spark.operators.sketches import (
        qsketch_build_onepass,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    ev = load_table(spark, sf_small, "events")
    a = qsketch_build_onepass(ev, F.col("event_id"), F.col("value"), 64)
    b = qsketch_build_onepass(
        ev.repartition(3), F.col("event_id"), F.col("value"), 64
    )
    assert {tuple(r) for r in a.collect()} == {
        tuple(r) for r in b.collect()
    }


def test_wqsketch_split_independence_bitwise(spark, sf_small):
    """Merging weighted sketches of 3 disjoint splits must equal the
    one-shot build bit-for-bit — the canonical-state group law with
    weights riding along."""
    from bigdata_capstone_spark.operators.sketches import (
        wqsketch_build,
        wqsketch_merge,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", "n_chars", (F.col("doc_id") % 9 + 1).alias("w")
    )
    one = wqsketch_build(
        docs, F.col("doc_id"), F.col("n_chars"), F.col("w"), 64
    )
    parts = [
        wqsketch_build(
            docs.filter(F.col("doc_id") % 3 == i),
            F.col("doc_id"), F.col("n_chars"), F.col("w"), 64,
        )
        for i in range(3)
    ]
    merged = wqsketch_merge(parts, 64)
    assert {tuple(r) for r in one.collect()} == {
        tuple(r) for r in merged.collect()
    }


def test_wqsketch_weighted_rank_error_bounded(spark, sf_oracle):
    """The estimated weighted quantiles must sit near the true weighted
    order statistics: at each q, the EXACT weighted CDF of the
    estimated value must be within a loose Horvitz-Thompson sampling
    bound of q (the unweighted family's DKW discipline, widened for
    weight variance)."""
    import math

    from bigdata_capstone_spark.operators.sketches import (
        wqsketch_build,
        wqsketch_quantiles,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_oracle, "documents").select(
        "doc_id", "n_chars", (F.col("doc_id") % 17 + 1).alias("w")
    )
    state = wqsketch_build(
        docs, F.col("doc_id"), F.col("n_chars"), F.col("w"), 256
    )
    row = wqsketch_quantiles(state, (0.5, 0.9)).collect()[0]
    m = row["n_kept"]
    eps = 3.0 * math.sqrt(math.log(2 / 0.01) / (2 * m))
    exact = docs.select("n_chars", "w").collect()
    tot = sum(r["w"] for r in exact)
    for q, col in ((0.5, "p50_r"), (0.9, "p90_r")):
        v = row[col]
        cdf = sum(r["w"] for r in exact if r["n_chars"] <= v) / tot
        assert abs(cdf - q) <= eps, (q, v, cdf, eps, m)


def test_wqsketch_zero_weight_items_excluded(spark):
    from bigdata_capstone_spark.operators.sketches import wqsketch_items

    df = spark.createDataFrame(
        [(1, 10.0, 5), (2, 20.0, 0), (3, 30.0, -2)],
        "k INT, v DOUBLE, w INT",
    )
    items = wqsketch_items(df, F.col("k"), F.col("v"), F.col("w"))
    assert [r["qs_id"] for r in items.collect()] == ["1"]


def test_wqsketch_onepass_bit_identical(spark, sf_small):
    from bigdata_capstone_spark.operators.sketches import (
        wqsketch_build,
        wqsketch_build_onepass,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", "n_chars", (F.col("doc_id") % 9 + 1).alias("w")
    )
    a = wqsketch_build(
        docs, F.col("doc_id"), F.col("n_chars"), F.col("w"), 64
    )
    b = wqsketch_build_onepass(
        docs, F.col("doc_id"), F.col("n_chars"), F.col("w"), 64
    )
    sa = {tuple(r) for r in a.collect()}
    sb = {tuple(r) for r in b.collect()}
    assert sa == sb and len(sa) > 0


def test_wqsketch_grouped_split_independence(spark, sf_small):
    """Grouped weighted states over disjoint splits must union+recompact
    to the one-shot grouped build groupwise — here asserted the simple
    way: the one-shot grouped state equals itself under repartitioned
    input, and per-group states equal the global build filtered to the
    group (the grouped construction introduces no cross-group
    coupling)."""
    from bigdata_capstone_spark.operators.sketches import (
        wqsketch_build,
        wqsketch_grouped_build,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select(
        "lang", "doc_id", "n_chars", (F.col("doc_id") % 9 + 1).alias("w")
    )
    grouped = wqsketch_grouped_build(
        docs, ["lang"], F.col("doc_id"), F.col("n_chars"), F.col("w"), 32
    )
    reparted = wqsketch_grouped_build(
        docs.repartition(5), ["lang"], F.col("doc_id"),
        F.col("n_chars"), F.col("w"), 32,
    )
    assert {tuple(r) for r in grouped.collect()} == {
        tuple(r) for r in reparted.collect()
    }
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    g = {tuple(r) for r in grouped.collect()}
    for lang in langs:
        solo = wqsketch_build(
            docs.filter(F.col("lang") == lang),
            F.col("doc_id"), F.col("n_chars"), F.col("w"), 32,
        )
        want = {(lang, *t) for t in (tuple(r) for r in solo.collect())}
        got = {t for t in g if t[0] == lang}
        assert got == want, lang


def test_keyed_onepass_partials_match_per_shard_builds(spark):
    """The keyed one-pass kernel's per-shard states must merge to the
    SAME bits as per-shard one-pass builds (and hence the one-shot
    build) — the canonical-state law the shard-merge entries rely on."""
    from bigdata_capstone_spark.operators.sketches import (
        qsketch_build,
        qsketch_merge,
        qsketch_partials_onepass_keyed,
        qsketch_quantiles,
    )

    df = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 997).cast("double").alias("v")
    )
    partials = qsketch_partials_onepass_keyed(
        df, F.col("k") % 3, F.col("k"), F.col("v"), 64
    ).localCheckpoint(eager=True)
    states = [
        partials.filter(F.col("__shard") == i).drop("__shard")
        for i in range(3)
    ]
    merged = qsketch_merge(states, 64)
    oneshot = qsketch_build(df, F.col("k"), F.col("v"), 64)
    got = qsketch_quantiles(merged).collect()
    want = qsketch_quantiles(oneshot).collect()
    assert len(got) == len(want) == 1
    assert got[0].asDict() == want[0].asDict()
