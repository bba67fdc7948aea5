"""Property-based tests (hypothesis): operator semantics must hold on
arbitrary generated inputs, not just the synthetic fixtures.

Each property pins a custom operator against an independent model of its
semantics — pandas for the as-of join, brute-force Python for salting and
components — over randomized small inputs. Spark sessions are expensive,
so examples are bounded (max_examples kept small; deadline disabled since
JVM actions have multi-ms jitter).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=60,
    ),
    n_salts=st.integers(min_value=1, max_value=5),
)
@settings(**SETTINGS)
def test_salted_groupby_equals_python_model(spark, rows, n_salts):
    from pb_etl_spark.operators.skew import salted_groupby

    df = spark.createDataFrame(rows, "k string, v long")
    got = {
        r["k"]: (r["s"], r["n"], r["mn"], r["mx"])
        for r in salted_groupby(
            df,
            ["k"],
            {"s": ("v", "sum"), "n": ("v", "count"), "mn": ("v", "min"), "mx": ("v", "max")},
            n_salts=n_salts,
        ).collect()
    }
    model: dict[str, list[int]] = {}
    for k, v in rows:
        model.setdefault(k, []).append(v)
    want = {k: (sum(vs), len(vs), min(vs), max(vs)) for k, vs in model.items()}
    assert got == want


@given(
    left_ts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=25,
    ),
    right_ts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_asof_join_matches_python_model(spark, left_ts, right_ts):
    """Our union+window as-of must attach, per right row, the latest left
    ts ≤ right ts on the same key (ties included, None when no earlier
    left row) — checked against a brute-force model over multiple keys."""
    from pb_etl_spark.operators.temporal import asof_join

    left_rows = sorted(set(left_ts))
    right_rows = sorted(set(right_ts))
    left = spark.createDataFrame(left_rows, "key long, ts long")
    right = spark.createDataFrame(right_rows, "key long, ts long")
    got = {
        (r["key"], r["ts"]): r["asof_ts"]
        for r in asof_join(left, right, on="key", ts_col="ts").collect()
    }
    want = {}
    for k, t in right_rows:
        cands = [lt for lk, lt in left_rows if lk == k and lt <= t]
        want[(k, t)] = max(cands) if cands else None
    assert got == want


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    from pb_etl_spark.operators.clustering import connected_components

    verts = spark.createDataFrame([(i,) for i in range(15)], "id long")
    if edges:
        edf = spark.createDataFrame(edges, "src long, dst long")
    else:
        edf = spark.createDataFrame([], "src long, dst long")
    got = {r["id"]: r["cluster_id"] for r in connected_components(verts, edf).collect()}
    assert got == _min_label_union_find(range(15), edges)


def _min_label_union_find(ids, edges) -> dict[int, int]:
    """Each id's component minimum: union by the smaller root."""
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def _nation_components(spark, members, edges) -> dict[int, int]:
    from pb_etl_spark.operators.clustering import nation_components

    got = nation_components(
        spark.createDataFrame(members, "nat int, id long"),
        spark.createDataFrame(edges, "nat int, ia long, ib long"),
    ).collect()
    assert len(got) == len(members)
    return {r["c_custkey"]: r["entity_id"] for r in got}


@st.composite
def _blocked_graphs(draw):
    """Members in up to 3 nations with sparse, non-contiguous ids, and
    same-nation edges drawn as member-index pairs: duplicates, both
    orientations and self-loops allowed; many members stay isolated."""
    ids = draw(st.lists(st.integers(0, 10**6), min_size=1, max_size=30, unique=True))
    nats = draw(st.lists(st.integers(0, 2), min_size=len(ids), max_size=len(ids)))
    idx = st.integers(0, len(ids) - 1)
    raw = draw(st.lists(st.tuples(idx, idx), max_size=40))
    edges = [(nats[a], ids[a], ids[b]) for a, b in raw if nats[a] == nats[b]]
    return list(zip(nats, ids)), edges


@given(graph=_blocked_graphs())
@settings(**SETTINGS)
def test_nation_components_matches_union_find(spark, graph):
    members, edges = graph
    want = _min_label_union_find([i for _, i in members], [(a, b) for _, a, b in edges])
    assert _nation_components(spark, members, edges) == want


def test_nation_components_long_shuffled_path(spark):
    """A 300-member path whose ids are shuffled along it: the label of the
    minimum id must travel the whole path, which takes many rounds of
    hooking + jumping. A second nation's path and isolated members ride
    along in the same plan."""
    import random

    rng = random.Random(5)
    ids = rng.sample(range(10**6), 340)
    path = ids[:300]
    members = [(1, i) for i in path] + [(2, i) for i in ids[300:]]
    edges = [(1, a, b) for a, b in zip(path, path[1:])]
    edges += [(2, a, b) for a, b in zip(ids[300:320], ids[301:320])]
    want = _min_label_union_find(ids, [(a, b) for _, a, b in edges])
    assert set(want[i] for i in path) == {min(path)}
    assert _nation_components(spark, members, edges) == want


@pytest.mark.parametrize("name", ["entity_resolution", "entity_golden_record"])
def test_entity_resolution_plans_run_no_python_worker(spark, name):
    from pb_etl_spark.registry import all_queries
    from tests.conftest import SF_DIR

    plan = all_queries()[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    for node in (
        "FlatMapCoGroupsInPandas",
        "ArrowEvalPython",
        "BatchEvalPython",
        "MapInPandas",
        "MapInArrow",
    ):
        assert node not in plan, f"{name} runs a Python worker: {node}"


@given(
    vals=st.lists(
        st.floats(min_value=0.001, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_max_normalize_bounds_and_unit_max(spark, vals):
    """Fit-on-train max normalization (reference E1 semantics, positive
    features): every transformed value ≤ 1 and the max maps to exactly 1."""
    from pb_etl_spark.operators.normalize import apply_maxabs, fit_maxabs

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = apply_maxabs(df, fit_maxabs(df, ["x"]), ["x"])
    got = [r["x"] for r in out.collect()]
    assert all(g <= 1.0 + 1e-12 for g in got)
    assert max(got) == pytest.approx(1.0)


@given(
    intervals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # user_id
            st.integers(min_value=0, max_value=500),  # start
            st.integers(min_value=0, max_value=200),  # length
        ),
        min_size=1,
        max_size=30,
    ),
    bucket=st.sampled_from([7, 50, 128, 1000]),
)
@settings(**SETTINGS)
def test_interval_overlap_bucket_join_matches_brute_force(
    spark, intervals, bucket
):
    """The uniform-bucketing overlap join must emit every cross-key
    overlapping pair EXACTLY once (the overlap-start-bucket rule),
    whatever the bucket width — verified against the quadratic model."""
    from pb_etl_spark.operators.temporal import interval_overlap_pairs

    rows = [(u, s, s + ln) for (u, s, ln) in intervals]
    df = spark.createDataFrame(rows, "user_id long, s_us long, e_us long")
    got = sorted(
        (r["user_a"], r["user_b"], r["ov_us"])
        for r in interval_overlap_pairs(df, bucket).collect()
    )
    brute = []
    for i, x in enumerate(rows):
        for y in rows[i + 1 :]:
            if x[0] != y[0] and x[1] <= y[2] and y[1] <= x[2]:
                lo, hi = (x, y) if x[0] < y[0] else (y, x)
                brute.append(
                    (lo[0], hi[0], min(lo[2], hi[2]) - max(lo[1], hi[1]))
                )
    assert got == sorted(brute)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", "g3"]),
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=60,
    ),
    nparts=st.integers(min_value=1, max_value=9),
)
@settings(**SETTINGS)
def test_grouped_running_sum_equals_python_model(spark, rows, nparts):
    """grouped_running_sum (range partition + per-(pid, group) offsets)
    must equal the per-group inclusive prefix sum computed in plain
    Python over the (order, id) total order — for arbitrary group
    mixes, duplicate order keys, negative values, and ANY partition
    count (the driver prefix-sum stitching is the thing under test)."""
    from pb_etl_spark.operators.corpus import grouped_running_sum

    # unique id tiebreak makes (o, i) a total order within each group
    data = [(g, o, i, v) for i, (g, o, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, o long, i long, v long")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
        out = grouped_running_sum(spark, df, ["g"], ["o", "i"], "v")
        collected = out.collect()
        got = {(r["g"], r["i"]): (r["cum"], r["gtot"]) for r in collected}
        totals = {
            (r["g"],): r["gtot"] for r in collected
        }  # gtot constant per group
        alls = {r["_gr_all"] for r in collected}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    model: dict[str, list] = {}
    for g, o, i, v in data:
        model.setdefault(g, []).append((o, i, v))
    want = {}
    want_totals = {}
    for g, items in model.items():
        acc = 0
        for o, i, v in sorted(items):
            acc += v
            want[(g, i)] = acc
        want_totals[(g,)] = acc
    assert {k: c for k, (c, _) in got.items()} == want
    assert totals == want_totals
    assert alls == {sum(want_totals.values())}
    for (g, _), (_, gt) in got.items():
        assert gt == want_totals[(g,)]


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=50),  # weight
            st.integers(min_value=0, max_value=5),  # priority bucket: ties
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=1, max_value=12),
)
@settings(**SETTINGS)
def test_priority_sample_equals_python_model(spark, rows, k):
    """priority_sample's threshold/tie-break algebra (min-struct over
    the K+1 TakeOrdered frame, strictly-above filter) must keep exactly
    the top-k under (priority DESC, id ASC) with est_w = max(w, tau) —
    including exact priority TIES across the k/k+1 boundary and corpora
    smaller than k, the cases the md5-uniform fixture can never hit."""
    from pb_etl_spark.operators.corpus import priority_sample

    data = [(i, w, float(p)) for i, (w, p) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, w long, priority double")
    out = priority_sample(df, "id", "w", "priority", k)
    got = {r["id"]: (r["w"], r["priority"], r["est_w"]) for r in out.collect()}
    model = sorted(data, key=lambda t: (-t[2], t[0]))
    tau = model[k][2] if len(model) > k else 0.0
    want = {
        i: (w, p, round(max(float(w), tau), 6)) for i, w, p in model[:k]
    }
    assert got == want


@given(
    cells=st.lists(
        st.tuples(
            st.integers(min_value=-100, max_value=100),  # distinct value
            st.integers(min_value=0, max_value=9),  # cnt_a
            st.integers(min_value=0, max_value=9),  # cnt_b
        ),
        min_size=2,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
)
@settings(**SETTINGS)
def test_two_sample_rank_tests_equal_python_model(spark, cells):
    """two_sample_rank_tests must reproduce, on arbitrary count frames,
    the KS numerator from direct ECDF comparison and the Mann-Whitney U
    from brute-force pair counting (half-credit ties) — the doubled-
    midrank accumulation is the thing under test."""
    from hypothesis import assume

    from pb_etl_spark.operators.selection import two_sample_rank_tests

    a = [v for v, ca, _ in cells for _ in range(ca)]
    b = [v for v, _, cb in cells for _ in range(cb)]
    n_a, n_b = len(a), len(b)
    assume(n_a > 0 and n_b > 0)
    # at least two distinct pooled values, else sig2 == 0 by design
    assume(len({*a, *b}) > 1)
    df = spark.createDataFrame(cells, "v long, cnt_a long, cnt_b long")
    [r] = two_sample_rank_tests(df).collect()
    cum_a = cum_b = d_num = 0
    for v in sorted({*a, *b}):
        cum_a += a.count(v)
        cum_b += b.count(v)
        d_num = max(d_num, abs(cum_a * n_b - cum_b * n_a))
    u_brute = sum((x > y) + 0.5 * (x == y) for x in a for y in b)
    assert (r["n_a"], r["n_b"], r["ks_d_num"]) == (n_a, n_b, d_num)
    assert r["mw_u1"] == u_brute
    assert abs(r["ks_d"] - d_num / (n_a * n_b)) < 1e-9


@given(
    rows=st.lists(
        # the money-grid product envelope: |e| up to ~1.2e11 per row,
        # sign-mixed (q9 profit), values straddling the 1e8 split radix
        st.integers(min_value=-(2**47), max_value=2**47),
        min_size=0,
        max_size=80,
    ),
)
@settings(**SETTINGS)
def test_exact_long_sum_equals_python_integer_sum(spark, rows):
    """money.exact_long_sum (split-radix primitive-long try_sums
    recombined in decimal) must equal Python's arbitrary-precision sum
    on arbitrary sign-mixed longs — the property behind every money
    aggregate; empty input must yield NULL, never a spurious overflow
    raise."""
    from pb_etl_spark.operators import money

    df = spark.createDataFrame(
        [(int(v),) for v in rows], "e long"
    )
    got = df.agg(money.exact_long_sum(F.col("e")).alias("s")).collect()[0][
        "s"
    ]
    if not rows:
        assert got is None
    else:
        assert int(got) == sum(rows)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=60,
    ),
    nparts=st.integers(min_value=1, max_value=9),
)
@settings(**SETTINGS)
def test_global_positions_and_running_sum_equal_python_model(
    spark, rows, nparts
):
    """The ungrouped siblings (range partition + one-action
    broadcast-back offsets since r15): pos must be exactly 1..n in
    (k, i) order and cum the inclusive prefix sum, for duplicate keys
    and ANY partition count — including widths larger than the row
    count, where most range partitions are empty."""
    from pb_etl_spark.operators.corpus import (
        global_positions,
        global_running_sum,
    )

    data = [(k, i, v) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, i long, v long")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
        pos_rows = global_positions(spark, df, ["k", "i"]).collect()
        got_pos = {r["i"]: r["pos"] for r in pos_rows}
        cum_rows = global_running_sum(spark, df, ["k", "i"], "v").collect()
        got_cum = {r["i"]: r["cum"] for r in cum_rows}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    ordered = sorted(data)
    assert {r["_gp_tot"] for r in pos_rows} == {len(data)}
    assert {r["_gr_tot"] for r in cum_rows} == {sum(v for _, _, v in data)}
    acc = 0
    for p, (k, i, v) in enumerate(ordered, start=1):
        acc += v
        assert got_pos[i] == p
        assert got_cum[i] == acc
