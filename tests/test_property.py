"""Property-based tests: the engine vs a direct Python model of the
reference semantics (promotion lattice, filter comparisons, aggregate
empty contracts) over randomized streams.

The reference's own tests are fixed goldens (SURVEY §5); hypothesis widens
that to arbitrary inputs. Streams are built once per example via the shared
Connection; examples are kept small so each runs in ~1 Spark job.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tachyon_spark.connection import Connection

_counter = [0]


@pytest.fixture(scope="module")
def prop_db(spark, tmp_path_factory):
    return Connection(str(tmp_path_factory.mktemp("propdb")), spark)


def _mk_stream(conn, vt, points):
    _counter[0] += 1
    sel = f'prop{_counter[0]}{{t="x"}}'
    conn.create_stream(sel, vt)
    ins = conn.prepare_insert(sel)
    for ts, v in points:
        ins.insert(ts, v)
    ins.flush()
    return sel

# strictly increasing ts with i64-ish values
points_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=-1_000_000, max_value=1_000_000),
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda p: p[0],
).map(lambda ps: sorted(ps))

scalar_strategy = st.one_of(
    st.integers(min_value=-100, max_value=100),
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
).filter(lambda s: abs(s) > 1e-6)


@settings(max_examples=16, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    points=points_strategy,
    scalar=scalar_strategy,
    op=st.sampled_from(["+", "-", "*", "/", "%", "^", "atan2"]),
)
def test_vector_scalar_arith_model(prop_db, points, scalar, op):
    sel = _mk_stream(prop_db, "i64", points)
    q = prop_db.query(f"{sel} {op} {scalar}", 0, 20_000)
    got = q.rows()

    def _pow(a, b):
        if a == 0 and b < 0:  # Java Math.pow: signed Inf, not a domain error
            odd = float(b).is_integer() and int(b) % 2 == 1
            return math.copysign(math.inf, a) if odd else math.inf
        try:
            return math.pow(a, b)
        except ValueError:  # neg base, fractional exponent -> NaN
            return float("nan")
        except OverflowError:  # Java Math.pow returns signed Inf
            neg = a < 0 and float(b).is_integer() and int(b) % 2 == 1
            return float("-inf") if neg else float("inf")

    py = {
        "+": lambda a, b: a + b,
        "-": lambda a, b: a - b,
        "*": lambda a, b: a * b,
        "/": lambda a, b: a / b,
        "%": lambda a, b: math.fmod(a, b),  # f64 modulo (lib.rs:335-362)
        "^": _pow,
        "atan2": math.atan2,
    }[op]
    # number literals are f64 -> result is f64 (planner.rs:140-143)
    expected = [(ts, py(float(v), float(scalar))) for ts, v in points]
    assert len(got) == len(expected)
    for (gts, gv), (ets, ev) in zip(got, expected):
        assert gts == ets
        if isinstance(ev, float) and math.isnan(ev):
            assert gv is None or math.isnan(gv)
        else:
            assert gv == pytest.approx(ev, rel=1e-9, abs=1e-9)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(points=points_strategy, threshold=st.integers(min_value=-1000, max_value=1000))
def test_comparison_filter_model(prop_db, points, threshold):
    sel = _mk_stream(prop_db, "i64", points)
    got = prop_db.query(f"{sel} > {threshold}", 0, 20_000).rows()
    expected = [(ts, v) for ts, v in points if v > threshold]
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(points=points_strategy)
def test_aggregates_model(prop_db, points):
    sel = _mk_stream(prop_db, "i64", points)
    vals = [v for _, v in points]
    assert prop_db.query(f"sum({sel})", 0, 20_000).scalar() == sum(vals)
    assert prop_db.query(f"count({sel})", 0, 20_000).scalar() == len(vals)
    assert prop_db.query(f"min({sel})", 0, 20_000).scalar() == min(vals)
    assert prop_db.query(f"max({sel})", 0, 20_000).scalar() == max(vals)
    assert prop_db.query(f"avg({sel})", 0, 20_000).scalar() == pytest.approx(
        sum(vals) / len(vals)
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(points=points_strategy, k=st.integers(min_value=0, max_value=10))
def test_topk_model(prop_db, points, k):
    sel = _mk_stream(prop_db, "i64", points)
    got = prop_db.query(f"topk({k}, {sel})", 0, 20_000).rows()
    expected = sorted((v for _, v in points), reverse=True)[:k]
    assert got == expected


def _interp_model(pts_a, pts_b, round_int=True):
    """Python model of the reference's interpolating add
    (vector_to_vector.rs:23-413): union of timestamps; a missing side is
    linearly interpolated between its neighbors (rounded for int streams);
    before-first/after-last carries the nearest value."""

    def side(pts, t):
        d = dict(pts)
        if t in d:
            return float(d[t])
        prev = [(ts, v) for ts, v in pts if ts < t]
        nxt = [(ts, v) for ts, v in pts if ts > t]
        if not prev:
            return float(nxt[0][1])
        if not nxt:
            return float(prev[-1][1])
        (t0, v0), (t1, v1) = prev[-1], nxt[0]
        val = v0 + (v1 - v0) * (t - t0) / (t1 - t0)
        # round-half-up like Spark/DuckDB ROUND, not banker's rounding
        return float(math.floor(val + 0.5)) if round_int else val

    ts_union = sorted({t for t, _ in pts_a} | {t for t, _ in pts_b})
    return [(t, int(side(pts_a, t) + side(pts_b, t))) for t in ts_union]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pts_a=points_strategy.map(lambda ps: [(t, abs(v) % 1000) for t, v in ps]),
    pts_b=points_strategy.map(lambda ps: [(t, abs(v) % 1000) for t, v in ps]),
)
def test_interpolating_add_model(prop_db, pts_a, pts_b):
    sa = _mk_stream(prop_db, "u64", pts_a)
    sb = _mk_stream(prop_db, "u64", pts_b)
    got = prop_db.query(f"{sa} + {sb}", 0, 20_000).rows()
    assert got == _interp_model(pts_a, pts_b)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    points=points_strategy.map(lambda ps: [(t, abs(v) % 1000) for t, v in ps]),
    width=st.integers(min_value=1, max_value=5000),
)
def test_windowed_over_time_model(prop_db, points, width):
    """Tumbling-window sum/count/increase vs a direct Python model, for
    arbitrary sample layouts and window widths (bucket-boundary fuzz)."""
    sel = _mk_stream(prop_db, "u64", points)
    wins: dict[int, list[tuple[int, int]]] = {}
    for t, v in points:
        wins.setdefault(t - t % width, []).append((t, v))
    exp_sum = [(w, sum(v for _, v in ps)) for w, ps in sorted(wins.items())]
    exp_cnt = [(w, len(ps)) for w, ps in sorted(wins.items())]
    # counter-reset-aware increase: adjusted delta is v-prev when the
    # counter grew, else v (restart from 0), summed per window
    exp_inc = [
        (
            w,
            float(sum(b[1] - a[1] if b[1] >= a[1] else b[1]
                      for a, b in zip(ps, ps[1:]))),
        )
        for w, ps in sorted(wins.items())
        if ps[-1][0] > ps[0][0]
    ]
    assert prop_db.query(f"sum_over_time({sel}[{width}])", 0, 20_000).rows() == exp_sum
    assert prop_db.query(f"count_over_time({sel}[{width}])", 0, 20_000).rows() == exp_cnt
    assert prop_db.query(f"increase({sel}[{width}])", 0, 20_000).rows() == exp_inc
    # idelta = last-pair difference; resets = count of decreases
    exp_idelta = [
        (w, float(ps[-1][1] - ps[-2][1]))
        for w, ps in sorted(wins.items())
        if len(ps) >= 2
    ]
    exp_resets = [
        (w, sum(1 for a, b in zip(ps, ps[1:]) if b[1] < a[1]))
        for w, ps in sorted(wins.items())
    ]
    assert prop_db.query(f"idelta({sel}[{width}])", 0, 20_000).rows() == exp_idelta
    assert prop_db.query(f"resets({sel}[{width}])", 0, 20_000).rows() == exp_resets


@pytest.fixture(scope="module")
def dec_db(spark, tmp_path_factory):
    return Connection(
        str(tmp_path_factory.mktemp("decdb")), spark, u64_decimal=True
    )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=2**64 - 1),
        min_size=1,
        max_size=5,
        unique=True,
    )
)
def test_u64_decimal_roundtrip_fuzz(dec_db, vals):
    """Full-range u64 exactness under the DECIMAL(20,0) layout: arbitrary
    values (incl > 2^63) round-trip bit-exactly and sum exactly."""
    sel = _mk_stream(dec_db, "u64", list(enumerate(vals)))
    got = dec_db.query(sel, 0, 20_000).rows()
    assert got == list(enumerate(vals))
    assert dec_db.query(f"sum({sel})", 0, 20_000).scalar() == sum(vals)
    assert dec_db.query(f"max({sel})", 0, 20_000).scalar() == max(vals)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lpts=points_strategy,
    rpts=points_strategy,
    tol=st.one_of(st.none(), st.integers(min_value=1, max_value=5000)),
)
def test_asof_join_model(spark, lpts, rpts, tol):
    """Backward as-of join vs a direct Python model, with and without
    tolerance, over arbitrary (unique-ts) point sets."""
    from tachyon_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("k", t, float(v)) for t, v in lpts], "key string, ts long, value double"
    )
    right = spark.createDataFrame(
        [("k", t, float(v)) for t, v in rpts], "key string, ts long, value double"
    )
    out = asof_join(left, right, on="ts", by=["key"], out_col="rv", tolerance=tol)
    got = {r.ts: r.rv for r in out.collect()}

    def model(t):
        cands = [(rt, rv) for rt, rv in rpts if rt <= t and (tol is None or t - rt <= tol)]
        return float(max(cands)[1]) if cands else None

    assert got == {t: model(t) for t, _ in lpts}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    points=points_strategy,
    step=st.integers(min_value=100, max_value=5_000),
    lookback=st.integers(min_value=0, max_value=5_000),
)
def test_query_range_lookback_model(prop_db, points, step, lookback):
    """Grid selector semantics vs a direct Python model: at each step t,
    the latest sample with t - lookback <= ts <= t; absent otherwise."""
    sel = _mk_stream(prop_db, "i64", points)
    end = 10_000
    got = dict(prop_db.query_range(sel, 0, end, step, lookback=lookback).rows())
    expect = {}
    for t in range(0, end + 1, step):
        cand = [(ts, v) for ts, v in points if t - lookback <= ts <= t]
        if cand:
            expect[t] = max(cand)[1]
    assert got == expect


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    points=points_strategy,
    step=st.integers(min_value=200, max_value=3_000),
    rng=st.integers(min_value=200, max_value=6_000),
)
def test_query_range_increase_model(prop_db, points, step, rng):
    """Sliding reset-aware increase vs a direct Python model over the
    left-open window (t - R, t]."""
    sel = _mk_stream(prop_db, "i64", points)
    end = 10_000
    got = dict(prop_db.query_range(f"increase({sel}[{rng}])", 0, end, step).rows())
    expect = {}
    for t in range(0, end + 1, step):
        w = [(ts, v) for ts, v in points if t - rng < ts <= t]
        if len(w) >= 2 and w[0][0] != w[-1][0]:
            inc = 0.0
            for (_, prev), (_, v) in zip(w, w[1:]):
                inc += (v - prev) if v >= prev else v
            expect[t] = inc
    assert {k: pytest.approx(v) for k, v in expect.items()} == got


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    points=points_strategy,
    width=st.integers(min_value=100, max_value=5_000),
    sf=st.floats(min_value=0.05, max_value=0.95, allow_nan=False),
    tf=st.floats(min_value=0.05, max_value=1.0, allow_nan=False,
                 exclude_max=False),
)
def test_holt_winters_model(prop_db, points, width, sf, tf):
    """Per-window double exponential smoothing vs a direct replay of the
    prometheus funcHoltWinters recurrence."""
    sel = _mk_stream(prop_db, "i64", points)
    got = dict(prop_db.query(f"holt_winters({sel}[{width}], {sf}, {tf})", 0, 10_001).rows())

    def hw(vals):
        s1 = float(vals[0]); s0 = 0.0; b = float(vals[1] - vals[0])
        for i in range(1, len(vals)):
            bb = b if i == 1 else tf * (s1 - s0) + (1 - tf) * b
            s0, s1, b = s1, sf * vals[i] + (1 - sf) * (s1 + bb), bb
        return s1

    expect = {}
    by_win = {}
    for ts, v in points:
        by_win.setdefault(ts - ts % width, []).append((ts, v))
    for w, pts in by_win.items():
        vals = [v for _, v in sorted(pts)]
        if len(vals) >= 2:
            expect[w] = hw(vals)
    assert {k: pytest.approx(v) for k, v in expect.items()} == got


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(points=points_strategy, width=st.integers(min_value=100, max_value=5_000))
def test_mad_predict_model(prop_db, points, width):
    """mad_over_time and predict_linear vs direct Python models."""
    import statistics

    sel = _mk_stream(prop_db, "i64", points)
    got = dict(prop_db.query(f"mad_over_time({sel}[{width}])", 0, 10_001).rows())
    by_win = {}
    for ts, v in points:
        by_win.setdefault(ts - ts % width, []).append((ts, float(v)))
    expect = {}
    for w, pts in by_win.items():
        vals = sorted(v for _, v in pts)
        med = statistics.median(vals)
        expect[w] = statistics.median(sorted(abs(x - med) for x in vals))
    assert {k: pytest.approx(v) for k, v in expect.items()} == got

    got = dict(prop_db.query(f"predict_linear({sel}[{width}], 50)", 0, 10_001).rows())
    expect = {}
    for w, pts in by_win.items():
        if len(pts) >= 2 and len({t for t, _ in pts}) >= 2:
            xs = [t for t, _ in pts]; ys = [v for _, v in pts]
            n = len(xs); mx = sum(xs) / n; my = sum(ys) / n
            sxx = sum((x - mx) ** 2 for x in xs)
            m = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
            b = my - m * mx
            expect[w] = b + m * (w + width + 50)
    assert {k: pytest.approx(v, abs=1e-6) for k, v in expect.items()} == got


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.lists(
                st.sampled_from("abcdefg"), min_size=1, max_size=12
            ).map(" ".join),
        ),
        min_size=1, max_size=10, unique_by=lambda d: d[0],
    ),
    k=st.integers(min_value=2, max_value=4),
)
def test_dup_span_stats_model(spark, docs, k):
    """dup_span_stats vs a direct Python k-gram interval-union model —
    tiny alphabet so cross-document gram collisions actually happen."""
    from tachyon_spark.functions.dedup import dup_span_stats

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.dup_tokens) for r in dup_span_stats(df, k=k).collect()}

    toks = {i: t.split(" ") for i, t in docs}
    grams = {}
    for i, ts in toks.items():
        for p in range(len(ts) - k + 1):
            grams.setdefault(" ".join(ts[p : p + k]), set()).add(i)
    dup = {g for g, ids in grams.items() if len(ids) >= 2}
    expect = {}
    for i, ts in toks.items():
        covered = set()
        for p in range(len(ts) - k + 1):
            if " ".join(ts[p : p + k]) in dup:
                covered.update(range(p, p + k))
        expect[i] = (len(ts), len(covered))
    assert got == expect


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.lists(
                st.sampled_from("abcdefg"), min_size=1, max_size=20
            ).map(" ".join),
        ),
        min_size=1, max_size=8, unique_by=lambda d: d[0],
    )
)
def test_token_entropy_model(spark, docs):
    """token_entropy vs the direct -sum p ln p over each doc's own token
    frequencies (the engine computes the algebraic ln n - (sum c ln c)/n
    form — same value, different association order, so compare approx)."""
    from collections import Counter

    from tachyon_spark.functions.textstats import token_entropy

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.id: (r.n_tok, r.entropy) for r in token_entropy(df).collect()}
    for i, t in docs:
        c = Counter(t.split(" "))
        n = sum(c.values())
        h = -sum((v / n) * math.log(v / n) for v in c.values())
        assert got[i][0] == n
        assert got[i][1] == pytest.approx(round(h, 6), abs=2e-6), (i, t)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.lists(
                st.sampled_from(["the", "fox", "a", "run", "123", "#", "..."]),
                min_size=1, max_size=30,
            ).map(" ".join),
        ),
        min_size=1, max_size=8, unique_by=lambda d: d[0],
    )
)
def test_gopher_flags_model(spark, docs):
    """gopher_quality_flags vs a direct Python evaluation of each rule
    (loose thresholds so both pass/fail branches get exercised by the
    small random docs)."""
    from tachyon_spark.functions.textstats import (
        EN_STOPWORDS,
        gopher_quality_flags,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = gopher_quality_flags(
        df, min_tokens=5, max_tokens=20, min_word_len=1.5, max_word_len=3.0,
        max_symbol_ratio=0.2, min_alpha_frac=0.5, min_stopwords=1,
    )
    got = {r.doc_id: r.asDict() for r in out.collect()}
    for i, t in docs:
        toks = [w for w in t.split(" ") if w]
        n = len(toks)
        mean_len = sum(len(w) for w in toks) / max(n, 1)
        n_sym = t.count("#") + t.count("...")
        n_alpha = sum(1 for w in toks if any(ch.isalpha() for ch in w))
        stop_d = len({w for w in t.lower().split(" ") if w} & set(EN_STOPWORDS))
        g = got[i]
        assert g["ok_n_tokens"] == (5 <= n <= 20), (i, t)
        assert g["ok_word_len"] == (1.5 <= mean_len <= 3.0), (i, t)
        assert g["ok_symbols"] == (n_sym / max(n, 1) <= 0.2), (i, t)
        assert g["ok_alpha"] == (n_alpha / max(n, 1) >= 0.5), (i, t)
        assert g["ok_stopwords"] == (stop_d >= 1), (i, t)
        assert g["pass"] == all(
            g[k] for k in
            ("ok_n_tokens", "ok_word_len", "ok_symbols", "ok_alpha", "ok_stopwords")
        )


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        # ±~130 years around the epoch, fractional seconds included
        st.floats(min_value=-4.0e9, max_value=4.0e9,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=40,
    )
)
def test_calendar_col_matches_python_datetime(spark, epochs):
    """plans/builder._calendar_col (tz-free date_add arithmetic) must agree
    with Python's proleptic-Gregorian datetime on arbitrary epochs —
    including negatives (pre-1970) and fractional seconds."""
    from pyspark.sql import functions as F

    from tachyon_spark.plans.builder import PlanBuilder

    funcs = ["minute", "hour", "day_of_week", "day_of_month",
             "day_of_year", "days_in_month", "month", "year"]
    df = spark.createDataFrame([(v,) for v in epochs], "v double")
    row_cols = [
        PlanBuilder._calendar_col(f, F.col("v")).alias(f) for f in funcs
    ]
    got = df.select("v", *row_cols).collect()
    for r in got:
        for f in funcs:
            assert r[f] == PlanBuilder._calendar_py(f, r["v"]), (f, r["v"])


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    steps=st.sets(st.integers(min_value=0, max_value=40), min_size=1, max_size=20),
    for_=st.sampled_from([0, 10, 30]),
    keep=st.sampled_from([0, 10, 25]),
)
def test_alert_state_model(spark, steps, for_, keep):
    """alert_state vs a direct Python simulation of the Prometheus
    lifecycle over arbitrary present-step sets — both the vectorized
    islands path (keep=0) and the bridged fold."""
    from tachyon_spark.operators.alerts import alert_state

    STEP = 10
    ts_list = sorted(t * STEP for t in steps)
    df = spark.createDataFrame(
        [("s", t, 1.0) for t in ts_list], ["stream_id", "ts", "value"]
    )
    got = {
        r.ts: (r.active_since, r.state)
        for r in alert_state(df, step=STEP, for_=for_,
                             keep_firing_for=keep).collect()
    }
    # direct simulation
    active_since, last, firing = None, None, False
    want = {}
    for ts in ts_list:
        if last is not None:
            bridged = keep and firing and ts - last <= keep + STEP
            if ts - last != STEP and not bridged:
                active_since, firing = None, False
        if active_since is None:
            active_since = ts
        if ts - active_since >= for_:
            firing = True
        want[ts] = (active_since, "firing" if firing else "pending")
        last = ts
    assert got == want


# ---- nested without/by composition vs a pure-Python model (round 11) ----

_label_val = st.sampled_from(["p", "q"])


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    labelings=st.lists(
        st.tuples(_label_val, _label_val, _label_val),
        min_size=2, max_size=5, unique=True,
    ),
    values=st.lists(
        st.integers(min_value=-100, max_value=100), min_size=5, max_size=5
    ),
    inner_drop=st.sampled_from(["a", "b", "c"]),
    outer=st.sampled_from(
        ["without:a", "without:b", "without:c", "by:a", "by:b", "by:c"]
    ),
    funcs=st.tuples(
        st.sampled_from(["sum", "min", "max"]),
        st.sampled_from(["sum", "min", "max"]),
    ),
)
def test_nested_without_matches_python_model(
    prop_db, labelings, values, inner_drop, outer, funcs
):
    """f2 <outer> (f1 without (inner_drop) (m)) over one instant ==
    the same two-stage fold in plain Python over the label dicts —
    the composite decompose/re-key (PlanBuilder._rekey_series) must
    agree with direct label-set grouping for every clause combination."""
    import collections

    _counter[0] += 1
    name = f"nw{_counter[0]}"
    streams = []
    for i, (a, b, c) in enumerate(labelings):
        sel = f'{name}{{a="{a}",b="{b}",c="{c}"}}'
        prop_db.create_stream(sel, "i64")
        ins = prop_db.prepare_insert(sel)
        ins.insert(10, values[i % len(values)])
        ins.flush()
        streams.append(({"a": a, "b": b, "c": c},
                        values[i % len(values)]))
    f1, f2 = funcs
    mode, olabel = outer.split(":")
    expr = (
        f"{f2} {mode} ({olabel}) "
        f"({f1} without ({inner_drop}) ({name}))"
    )
    if mode == "by" and olabel == inner_drop:
        # the inner without dropped the label; by() over it must raise
        # the same not-present error as real-label grouped children
        with pytest.raises(ValueError, match="not present"):
            prop_db.query_range(expr, 10, 10, 10, lookback=10).rows()
        return
    q = prop_db.query_range(expr, 10, 10, 10, lookback=10)
    rows = q.df().collect()

    # python model: group by remaining labels, fold f1; re-group, fold f2
    fold = {"sum": sum, "min": min, "max": max}
    g1 = collections.defaultdict(list)
    for labs, v in streams:
        key = tuple(
            (k, labs[k]) for k in sorted(labs) if k != inner_drop
        )
        g1[key].append(v)
    stage1 = {k: fold[f1](vs) for k, vs in g1.items()}
    g2 = collections.defaultdict(list)
    for key, v in stage1.items():
        labs = dict(key)
        if mode == "by":
            k2 = (labs.get(olabel),)
        else:
            k2 = tuple(
                (k, lv) for k, lv in key if k != olabel
            )
        g2[k2].append(v)
    expect = {k: float(fold[f2](vs)) for k, vs in g2.items()}

    got = {}
    for r in rows:
        if mode == "by":
            got[(r[olabel],)] = float(r.value)
        else:
            key = tuple(
                tuple(p.split("=", 1)) for p in r.series.split(",") if p
            )
            got[key] = float(r.value)
    assert got == expect


# ---------------------------------------------- wire codec round trips
# (r15 second wave: the three hand-rolled binary protocols must be
# lossless for every label alphabet / sample sign the wire admits —
# pure-Python properties, no Spark session)

label_names = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters='"\\\n'
    ),
    min_size=1,
    max_size=12,
)
label_values = st.text(
    alphabet=st.characters(codec="utf-8"), max_size=16
)
wire_samples = st.lists(
    st.tuples(
        st.integers(min_value=-(2**55), max_value=2**55),
        st.floats(allow_nan=False, width=64),
    ),
    min_size=1,
    max_size=5,
)
wire_series = st.lists(
    st.tuples(
        st.dictionaries(
            label_names, label_values, min_size=1, max_size=4
        ).map(lambda d: {**d, "__name__": "m"}),
        wire_samples,
    ),
    min_size=1,
    max_size=4,
).map(
    lambda ss: [(labels, sorted(set(pts))) for labels, pts in ss]
)


@settings(deadline=None, max_examples=60)
@given(series=wire_series)
def test_remote_write_v1_codec_roundtrip(series):
    from tachyon_spark.sources.remote_write import (
        decode_write_request,
        encode_write_request,
        snappy_compress,
        snappy_decompress,
    )

    blob = snappy_compress(encode_write_request(series))
    got = decode_write_request(snappy_decompress(blob))
    assert got == [(labels, pts) for labels, pts in series]


@settings(deadline=None, max_examples=60)
@given(series=wire_series)
def test_remote_write_v2_codec_roundtrip(series):
    from tachyon_spark.sources.remote_write import (
        decode_write_request_v2,
        encode_write_request_v2,
    )

    assert decode_write_request_v2(
        encode_write_request_v2(series)
    ) == series


@settings(deadline=None, max_examples=60)
@given(series=wire_series)
def test_otlp_gauge_codec_roundtrip(series):
    from tachyon_spark.sources.otlp import (
        decode_export_metrics,
        encode_export_metrics,
    )

    # OTLP timestamps are fixed64 unsigned — shift into range
    metrics = [
        (
            labels["__name__"],
            "gauge",
            [
                (
                    {k: v for k, v in labels.items() if k != "__name__"},
                    ts + 2**55,
                    val,
                )
                for ts, val in pts
            ],
        )
        for labels, pts in series
    ]
    out = decode_export_metrics(encode_export_metrics([({}, metrics)]))
    expect = [
        (name, attrs, ts, None if isinstance(v, int) else v,
         v if isinstance(v, int) else None)
        for name, _, pts in metrics
        for attrs, ts, v in pts
    ]
    assert out == expect
