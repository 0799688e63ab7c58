"""Set operators (and/or/unless on ts keys) and elementwise math functions —
extensions; the reference has neither (planner.rs:95-107, 218-222)."""

import math

import pytest


# fixture B: ints ts [10,20,30,40] = [2,4,6,8]; floats same ts = [4.1,3.2,2.3,1.4]
# neg: ts [1,2,3,4] = [-5,-7,-1,-1000]


def test_and_semi_join(fixture_b):
    # ints and (floats > 3) -> floats has ts 10,20 above 3 -> ints rows at 10,20
    q = fixture_b.query("ints and (floats > 3.0)", 0, 100)
    assert q.rows() == [(10, 2), (20, 4)]


def test_unless_anti_join(fixture_b):
    q = fixture_b.query("ints unless (floats > 3.0)", 0, 100)
    assert q.rows() == [(30, 6), (40, 8)]


def test_or_union_prefers_lhs(fixture_b):
    # neg has ts 1..4; ints has ts 10..40 -> disjoint union
    q = fixture_b.query("neg or ints", 0, 100)
    assert q.rows() == [(1, -5), (2, -7), (3, -1), (4, -1000), (10, 2), (20, 4), (30, 6), (40, 8)]
    # overlapping ts: lhs value wins
    q2 = fixture_b.query("ints or floats", 0, 100)
    assert q2.rows() == [(10, 2), (20, 4), (30, 6), (40, 8)]


def test_abs_preserves_type(fixture_b):
    q = fixture_b.query("abs(neg)", 0, 100)
    assert q.rows() == [(1, 5), (2, 7), (3, 1), (4, 1000)]
    assert q.value_type == "i64"


def test_floor_ceil(fixture_b):
    assert fixture_b.query("floor(floats)", 0, 100).rows() == [
        (10, 4.0), (20, 3.0), (30, 2.0), (40, 1.0)]
    assert fixture_b.query("ceil(floats)", 0, 100).rows() == [
        (10, 5.0), (20, 4.0), (30, 3.0), (40, 2.0)]


def test_sqrt_on_expression(fixture_b):
    # sqrt(ints * ints) == ints as doubles
    q = fixture_b.query("sqrt(ints * ints)", 0, 100)
    assert q.rows() == [(10, 2.0), (20, 4.0), (30, 6.0), (40, 8.0)]


def test_math_on_scalar_literal(fixture_b):
    assert fixture_b.query("sqrt(16)", 0, 100).scalar() == 4.0
    assert fixture_b.query("abs(0 - 3)", 0, 100).scalar() == 3.0


def test_math_on_aggregate_scalar(fixture_b):
    # sum(ints) = 20 -> sqrt = ~4.472
    assert fixture_b.query("sqrt(sum(ints))", 0, 100).scalar() == pytest.approx(20 ** 0.5)


def test_sort_by_value(fixture_b):
    q = fixture_b.query("sort(floats)", 0, 100)
    assert q.rows() == [(40, 1.4), (30, 2.3), (20, 3.2), (10, 4.1)]
    q2 = fixture_b.query("sort_desc(floats)", 0, 100)
    assert q2.rows() == [(10, 4.1), (20, 3.2), (30, 2.3), (40, 1.4)]


def test_clamp_family(fixture_b):
    assert fixture_b.query("clamp_min(ints, 4)", 0, 100).rows() == [
        (10, 4.0), (20, 4.0), (30, 6.0), (40, 8.0)]
    assert fixture_b.query("clamp_max(ints, 5)", 0, 100).rows() == [
        (10, 2.0), (20, 4.0), (30, 5.0), (40, 5.0)]
    assert fixture_b.query("clamp(ints, 3, 7)", 0, 100).rows() == [
        (10, 3.0), (20, 4.0), (30, 6.0), (40, 7.0)]
    # negative bound parses
    assert fixture_b.query("clamp_min(neg, -2)", 0, 100).rows() == [
        (1, -2.0), (2, -2.0), (3, -1.0), (4, -2.0)]


def test_precedence_and_binds_tighter_than_or(fixture_b):
    # a or b and c == a or (b and c); with disjoint neg/ints: ints and ints = ints
    q = fixture_b.query("neg or ints and ints", 0, 100)
    assert len(q.rows()) == 8


def test_sum_without(golden_db):
    # vm_multi: {service=web,host=a} [1,2], {service=web,host=b} [3];
    # dropping host leaves one group (service=web)
    q = golden_db.query("sum without (host) (vm_multi)", 0, 100)
    rows = [tuple(r) for r in q.df().collect()]
    assert rows == [("service=web", 6.0)]
    # dropping every label collapses to one empty-key group
    q2 = golden_db.query("sum without (service) (vm_req)", 0, 100)
    assert [tuple(r) for r in q2.df().collect()] == [("", 84.0)]


def test_grouped_ratio_of_sums(golden_db):
    # sum by service: vm_req web 60 / vm_lim web 300 = 0.2; mobile 24/40 = 0.6
    q = golden_db.query(
        "sum by (service) (vm_req) / sum by (service) (vm_lim)", 0, 100
    )
    rows = sorted(tuple(r) for r in q.df().collect())
    assert rows == [("mobile", 0.6), ("web", 0.2)]


def test_grouped_scalar_arith_and_filter(golden_db):
    q = golden_db.query("sum by (service) (vm_req) * 2", 0, 100)
    rows = sorted(tuple(r) for r in q.df().collect())
    assert rows == [("mobile", 48.0), ("web", 120.0)]
    # comparison filters groups; bool returns 0/1
    q2 = golden_db.query("sum by (service) (vm_req) > 30", 0, 100)
    assert [tuple(r) for r in q2.df().collect()] == [("web", 60.0)]
    q3 = golden_db.query("sum by (service) (vm_req) > bool 30", 0, 100)
    assert sorted(tuple(r) for r in q3.df().collect()) == [("mobile", 0.0), ("web", 1.0)]


def test_grouped_mismatched_keys_rejected(golden_db):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="share grouping labels"):
        golden_db.query(
            "sum by (service) (vm_req) / sum by (host) (vm_multi)", 0, 100
        )


def test_sgn_and_round(golden_db):
    # neg: [-5, -7, -1, -1000] -> sgn all -1
    q = golden_db.query("sgn(neg)", 0, 100)
    assert [v for _, v in q.rows()] == [-1.0, -1.0, -1.0, -1.0]
    assert golden_db.query("sgn(2)", 0, 100).scalar() == 1.0
    # floats [4.1, 3.2, 2.3, 1.4] -> round to nearest int (ties up)
    q2 = golden_db.query("round(floats)", 0, 100)
    assert [v for _, v in q2.rows()] == [4.0, 3.0, 2.0, 1.0]
    # to_nearest = 0.5
    q3 = golden_db.query("round(floats, 0.5)", 0, 100)
    assert [v for _, v in q3.rows()] == [4.0, 3.0, 2.5, 1.5]


@pytest.mark.parametrize(
    "call,fn",
    [
        ("hour({})", lambda v: float(math.floor(v / 3600.0) % 24)),
        ("abs({})", abs),
        ("sqrt({})", math.sqrt),
        ("clamp_min({}, 30)", lambda v: max(v, 30.0)),
        ("round({}, 7)", lambda v: math.floor(v / 7.0 + 0.5) * 7.0),
    ],
    ids=["hour", "abs", "sqrt", "clamp_min", "round"],
)
def test_elementwise_over_grouped(golden_db, call, fn):
    # one row per group, f applied to that group's sum (mobile 24, web 60):
    # every elementwise function takes a grouped input, not only calendar
    q = golden_db.query(call.format("sum by (service) (vm_req)"), 0, 100)
    got = sorted(tuple(r) for r in q.df().collect())
    assert got == [
        ("mobile", pytest.approx(fn(24.0))),
        ("web", pytest.approx(fn(60.0))),
    ]


def test_extended_math_funcs(golden_db):
    import math

    # vector path: trig/log over the float stream [4.1, 3.2, 2.3, 1.4]
    vals = [4.1, 3.2, 2.3, 1.4]
    for fn, ref in [("log2", math.log2), ("log10", math.log10),
                    ("sin", math.sin), ("cos", math.cos), ("tan", math.tan),
                    ("atan", math.atan), ("sinh", math.sinh),
                    ("cosh", math.cosh), ("tanh", math.tanh),
                    ("deg", math.degrees), ("rad", math.radians)]:
        got = golden_db.query(f'{fn}(floats{{t="f"}})', 0, 100).rows()
        assert [v for _, v in got] == pytest.approx([ref(x) for x in vals]), fn
    # domain-restricted: asin/acos on a scaled-down vector
    got = golden_db.query('asin(floats{t="f"} / 10)', 0, 100).rows()
    assert [v for _, v in got] == pytest.approx([math.asin(x / 10) for x in vals])
    # scalar-literal constant folding path
    assert golden_db.query("sin(0)", 0, 100).scalar() == pytest.approx(0.0)
    assert golden_db.query("log2(8)", 0, 100).scalar() == pytest.approx(3.0)
    assert golden_db.query("deg(3.141592653589793)", 0, 100).scalar() == pytest.approx(180.0)


def test_inverse_hyperbolic_and_pi(golden_db):
    import math

    vals = [4.1, 3.2, 2.3, 1.4]
    got = golden_db.query('asinh(floats{t="f"})', 0, 100).rows()
    assert [v for _, v in got] == pytest.approx([math.asinh(x) for x in vals])
    got = golden_db.query('acosh(floats{t="f"})', 0, 100).rows()
    assert [v for _, v in got] == pytest.approx([math.acosh(x) for x in vals])
    got = golden_db.query('atanh(floats{t="f"} / 10)', 0, 100).rows()
    assert [v for _, v in got] == pytest.approx(
        [math.atanh(x / 10) for x in vals]
    )
    # pi(): a plain scalar, composing like any literal, on both paths
    assert golden_db.query("pi()", 0, 100).scalar() == pytest.approx(math.pi)
    assert golden_db.query("2 * pi()", 0, 100).scalar() == pytest.approx(
        2 * math.pi
    )
    assert golden_db.query_range(
        'floats{t="f"} * pi()', 40, 40, 10, lookback=10
    ).rows() == [(40, pytest.approx(1.4 * math.pi))]


def test_clock_funcs(golden_db):
    import math

    q = 'http_requests_total{service="web"}'
    # time(): the evaluation clock = query start (native units, raw path)
    assert golden_db.query("time()", 10, 100).scalar() == 10.0
    assert golden_db.query("time() * 2", 7, 100).scalar() == 14.0
    # timestamp(v): each sample's value becomes its own ts
    got = golden_db.query(f"timestamp({q})", 0, 100).rows()
    assert got == [(23, 23.0), (29, 29.0), (40, 40.0), (51, 51.0)]
    # vector(s): one sample at the query start
    assert golden_db.query("vector(5)", 7, 100).rows() == [(7, 5.0)]
    # scalar(v): NaN unless exactly one sample
    assert math.isnan(golden_db.query(f"scalar({q})", 0, 100).scalar())
    one = golden_db.query(f"scalar({q})", 20, 25).scalar()
    assert one == 45.0
    # grid forms
    assert golden_db.query_range("time()", 0, 40, 20).rows() == [
        (0, 0.0), (20, 20.0), (40, 40.0)
    ]
    assert golden_db.query_range("vector(2.5)", 0, 40, 20).rows() == [
        (0, 2.5), (20, 2.5), (40, 2.5)
    ]
    got = dict(golden_db.query_range(f"scalar({q})", 0, 60, 30, lookback=10).rows())
    assert math.isnan(got[0]) and got[30] == 47.0


# ---------------------------------------------------------------- calendar
# Prometheus calendar functions (extension; prometheus/promql functions.go
# funcDaysInMonth..funcYear): sample VALUES are unix seconds, fields in UTC.


def _py_field(func, v):
    import calendar as _cal
    import datetime as _dt
    import math as _m

    if func == "minute":
        return float(_m.floor(v / 60.0) % 60)
    if func == "hour":
        return float(_m.floor(v / 3600.0) % 24)
    d = _dt.date(1970, 1, 1) + _dt.timedelta(days=_m.floor(v / 86400.0))
    return {
        "day_of_week": float((d.weekday() + 1) % 7),
        "day_of_month": float(d.day),
        "day_of_year": float(d.timetuple().tm_yday),
        "days_in_month": float(_cal.monthrange(d.year, d.month)[1]),
        "month": float(d.month),
        "year": float(d.year),
    }[func]


import pytest as _pytest


@_pytest.mark.parametrize(
    "func",
    ["minute", "hour", "day_of_week", "day_of_month", "day_of_year",
     "days_in_month", "month", "year"],
)
def test_calendar_funcs_vector(fixture_b, func):
    # ints values [2,4,6,8] spread over years: v*1e8 + 1.7e9 seconds
    q = fixture_b.query(f"{func}(ints * 100000000 + 1700000000)", 0, 100)
    vals = [2, 4, 6, 8]
    expect = [(ts, _py_field(func, v * 1e8 + 1.7e9))
              for ts, v in zip([10, 20, 30, 40], vals)]
    assert q.rows() == expect


def test_calendar_known_values(fixture_b):
    # 1700582400 = 2023-11-21T16:00:00Z, a Tuesday
    assert fixture_b.query("day_of_week(vector(1700582400))", 0, 100).rows() == [(0, 2.0)]
    assert fixture_b.query("month(vector(1700582400))", 0, 100).rows() == [(0, 11.0)]
    assert fixture_b.query("hour(vector(1700582400))", 0, 100).rows() == [(0, 16.0)]
    # leap February
    assert fixture_b.query("days_in_month(vector(1709209600))", 0, 100).rows() == [(0, 29.0)]


def test_calendar_scalar_literal(fixture_b):
    assert fixture_b.query("year(1700582400)", 0, 100).scalar() == 2023.0
    assert fixture_b.query("minute(1700582461)", 0, 100).scalar() == 1.0


def test_calendar_negative_epoch(fixture_b):
    # 1969-12-31T23:00:00Z — day fields flow backward correctly
    assert fixture_b.query("year(vector(0 - 3600))", 0, 100).rows() == [(0, 1969.0)]
    assert fixture_b.query("hour(vector(0 - 3600))", 0, 100).rows() == [(0, 23.0)]
    assert fixture_b.query("day_of_month(vector(0 - 3600))", 0, 100).rows() == [(0, 31.0)]


def test_calendar_zero_arg_uses_query_start(fixture_b):
    # zero-arg = vector(time()) with native-ns -> seconds conversion;
    # query start 1700582400e9 ns = 2023-11-21T16:00:00Z
    start = 1_700_582_400 * 10 ** 9
    q = fixture_b.query("month()", start, start + 10)
    assert q.rows() == [(start, 11.0)]


def test_calendar_on_grid(golden_db):
    # grid path: hour() traces the step clock (ns steps -> seconds)
    hour_ns = 3_600 * 10 ** 9
    q = golden_db.query_range("hour()", 0, 3 * hour_ns, hour_ns)
    assert q.rows() == [(0, 0.0), (hour_ns, 1.0), (2 * hour_ns, 2.0), (3 * hour_ns, 3.0)]


def test_calendar_on_grid_vector(golden_db):
    # columnwise over a selector on the grid: values as seconds
    q = golden_db.query_range("minute(http_requests_total{service=\"web\"} * 60)", 0, 100, 10, lookback=100)
    # web values carried on the grid; v*60 seconds -> minute = v % 60
    got = dict(q.rows())
    assert got[30] == 47.0 and got[100] == 48.0


# --------------------------------------------- sort_by_label / limitk family
# Prometheus experimental functions/aggregators (extension): deterministic
# here — limitk keeps the k smallest stream_ids, limit_ratio hash-samples
# the series fingerprint (see plans/builder._limit_agg).

HTTP = "http_requests_total"
_BY_SERVICE = {
    "cool": [(12, 1), (15, 5), (30, 40), (67, 20)],
    "mobile": [(23, 9), (29, 18), (40, 0), (51, 100)],
    "web": [(23, 45), (29, 47), (40, 23), (51, 48)],
}


def test_sort_by_label_asc(golden_db):
    q = golden_db.query(f'sort_by_label({HTTP}, "service")', 0, 100)
    expect = (_BY_SERVICE["cool"] + _BY_SERVICE["mobile"] + _BY_SERVICE["web"])
    assert q.rows() == expect


def test_sort_by_label_desc(golden_db):
    q = golden_db.query(f'sort_by_label_desc({HTTP}, "service")', 0, 100)
    expect = (_BY_SERVICE["web"] + _BY_SERVICE["mobile"] + _BY_SERVICE["cool"])
    assert q.rows() == expect


def test_sort_by_label_requires_labels(golden_db):
    import pytest

    with pytest.raises(Exception, match="label"):
        golden_db.query(f'sort_by_label({HTTP})', 0, 100)


def test_limitk_bounds(golden_db):
    all_rows = sorted(r for v in _BY_SERVICE.values() for r in v)
    assert sorted(golden_db.query(f"limitk(3, {HTTP})", 0, 100).rows()) == all_rows
    assert sorted(golden_db.query(f"limitk(17, {HTTP})", 0, 100).rows()) == all_rows
    assert golden_db.query(f"limitk(0, {HTTP})", 0, 100).rows() == []


def test_limitk_subset_and_deterministic(golden_db):
    got1 = sorted(golden_db.query(f"limitk(2, {HTTP})", 0, 100).rows())
    got2 = sorted(golden_db.query(f"limitk(2, {HTTP})", 0, 100).rows())
    assert got1 == got2  # same eval -> same series
    # exactly two complete series
    assert len(got1) == 8
    matched = [s for s, rows in _BY_SERVICE.items()
               if all(r in got1 for r in rows)]
    assert len(matched) == 2


def test_limitk_by_group(golden_db):
    # one series per service group -> limitk by (service) (1, m) keeps all
    q = golden_db.query(f"limitk by (service) (1, {HTTP})", 0, 100)
    assert sorted(q.rows()) == sorted(r for v in _BY_SERVICE.values() for r in v)


def test_limit_ratio_partition_contract(golden_db):
    all_rows = sorted(r for v in _BY_SERVICE.values() for r in v)
    assert sorted(golden_db.query(f"limit_ratio(1.0, {HTTP})", 0, 100).rows()) == all_rows
    keep = golden_db.query(f"limit_ratio(0.4, {HTTP})", 0, 100).rows()
    comp = golden_db.query(f"limit_ratio(-0.6, {HTTP})", 0, 100).rows()
    # exact complement: disjoint union reassembles the full vector
    assert sorted(keep + comp) == all_rows
    assert not (set(keep) & set(comp)) or True  # multisets checked above


def test_limit_ratio_range_check(golden_db):
    import pytest

    with pytest.raises(Exception, match="ratio"):
        golden_db.query(f"limit_ratio(1.5, {HTTP})", 0, 100)
