"""Graphite target-expression language (whisper_spark/render.py):
parser, evaluator, and the CLI ``render`` subcommand.  Reference
semantics: the public graphite-web render-API target syntax — the query
language reference-stack users actually type.
"""

import json

from pyspark.sql import functions as F

import pytest

from whisper_spark import cli
from whisper_spark.render import (
    Call,
    Path,
    TargetSyntaxError,
    evaluate_target,
    parse_duration,
    parse_target,
)
from whisper_spark.store import WhisperStore

NOW = 1700000000


# --------------------------------------------------------------------- #
# parser (no spark)
# --------------------------------------------------------------------- #


def test_parse_path_and_nested_calls():
    t = parse_target("summarize(sumSeries(ev.*.m1), '5min', 'sum')")
    assert isinstance(t, Call) and t.name == "summarize"
    inner = t.args[0]
    assert isinstance(inner, Call) and inner.name == "sumSeries"
    assert isinstance(inner.args[0], Path) and inner.args[0].glob == "ev.*.m1"
    assert t.args[1] == "5min" and t.args[2] == "sum"


def test_parse_brace_glob_commas_stay_inside():
    t = parse_target("sumSeries(ev.{click,view}.m1)")
    assert t.args[0].glob == "ev.{click,view}.m1"


def test_parse_numbers_and_negatives():
    t = parse_target("scale(offset(a.b, -10), 2.5)")
    assert t.args[1] == 2.5
    assert t.args[0].args[1] == -10


def test_parse_errors():
    for bad in ["sumSeries(", "foo)", "'str'", "42", "f(,)"]:
        with pytest.raises(TargetSyntaxError):
            parse_target(bad)


def test_parse_duration_units():
    assert parse_duration("15min") == 900
    assert parse_duration("1h") == 3600
    assert parse_duration("2w") == 1209600
    with pytest.raises(TargetSyntaxError):
        parse_duration("15parsecs")


# --------------------------------------------------------------------- #
# evaluator
# --------------------------------------------------------------------- #


@pytest.fixture()
def frame(spark):
    rows = [
        ("ev.click.m1", 0, 1.0), ("ev.click.m1", 60, 2.0),
        ("ev.click.m1", 120, 4.0),
        ("ev.view.m1", 0, 10.0), ("ev.view.m1", 60, 20.0),
        ("ev.error.m1", 0, 0.5),
    ]
    return spark.createDataFrame(rows, "metric string, ts long, value double")


def _vals(df):
    return sorted(tuple(r) for r in df.collect())


def test_eval_sum_series_merges_glob(frame):
    out = _vals(evaluate_target(frame, "sumSeries(ev.{click,view}.m1)"))
    assert [(v[1], v[2]) for v in out] == [(0, 11.0), (60, 22.0), (120, 4.0)]


def test_eval_summarize_rebins(frame):
    out = _vals(evaluate_target(frame, "summarize(ev.click.m1, '2min', 'sum')"))
    assert [(v[1], v[2]) for v in out] == [(0, 3.0), (120, 4.0)]


def test_eval_pipeline_composes(frame):
    out = _vals(
        evaluate_target(frame, "movingAverage(sumSeries(ev.*.m1), 2)")
    )
    # per-ts sums 11.5, 22, 4 -> trailing-2 averages
    assert [round(v[2], 6) for v in out] == [11.5, 16.75, 13.0]


def test_eval_scalar_transforms(frame):
    out = _vals(evaluate_target(frame, "absolute(offset(ev.click.m1, -2))"))
    assert [v[2] for v in out] == [1.0, 0.0, 2.0]
    clip = _vals(evaluate_target(frame, "removeAboveValue(ev.click.m1, 2)"))
    assert [v[2] for v in clip] == [1.0, 2.0, None]


def test_eval_selection_and_naming(frame):
    top = evaluate_target(frame, "highestAverage(ev.*.m1, 1)")
    assert set(r.metric for r in top.collect()) == {"ev.view.m1"}
    byn = evaluate_target(frame, "aliasByNode(ev.*.m1, 1)")
    assert set(r.metric for r in byn.collect()) == {"click", "view", "error"}
    al = evaluate_target(frame, "alias(ev.click.m1, 'renamed')")
    assert set(r.metric for r in al.collect()) == {"renamed"}


def test_eval_unknown_function_raises(frame):
    with pytest.raises(TargetSyntaxError):
        evaluate_target(frame, "definitelyNotAFunction(ev.*.m1)")


# --------------------------------------------------------------------- #
# CLI
# --------------------------------------------------------------------- #


def test_cli_render_end_to_end(spark, tmp_path, capsys):
    s = WhisperStore.create(
        spark, str(tmp_path / "db"), [(60, 60)], x_files_factor=0.0
    )
    for metric, base in (("web.cpu", 10.0), ("db.cpu", 20.0)):
        s.update_many(
            [(NOW - 60 * i, base + i) for i in range(1, 4)], now=NOW, metric=metric
        )
    assert (
        cli.main(
            [
                "render", s.path, "sumSeries(*.cpu)",
                "--from", str(NOW - 300), "--until", str(NOW), "--now", str(NOW),
                "--json",
            ]
        )
        == 0
    )
    data = json.loads(capsys.readouterr().out)
    (label,) = data.keys()
    assert label == "sumSeries(*.cpu)"
    merged = {ts: v for ts, v in data[label]}
    # both series wrote base+i at NOW - 60i -> per-slot sums
    aligned = {(NOW - 60 * i) // 60 * 60: 30.0 + 2 * i for i in range(1, 4)}
    got = {ts: v for ts, v in merged.items() if v is not None}
    assert got == aligned


# --------------------------------------------------------------------- #
# parser property fuzz
# --------------------------------------------------------------------- #


def test_parser_roundtrip_fuzz():
    """Serialize random ASTs and parse them back: parse(str(ast)) == ast.
    Catches tokenizer precedence bugs (brace commas, negative numbers,
    nested calls) without enumerating cases by hand."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    seg = st.sampled_from(["ev", "srv1", "cpu-0", "a_b", "*", "x?y", "{a,b}"])
    paths = st.lists(seg, min_size=1, max_size=4).map(lambda s: Path(".".join(s)))
    names = st.sampled_from(
        ["sumSeries", "summarize", "movingAverage", "scale", "aliasByNode"]
    )
    numbers = st.one_of(
        st.integers(min_value=-999, max_value=999),
        st.floats(min_value=-99.5, max_value=99.5).map(lambda f: round(f, 2)),
    )
    strings = st.sampled_from(["15min", "1h", "sum", "a b c"])

    def calls(children):
        return st.builds(
            Call,
            names,
            st.lists(
                st.one_of(children, numbers, strings), min_size=1, max_size=3
            ).filter(lambda a: isinstance(a[0], (Call, Path))),
        )

    asts = st.recursive(paths, calls, max_leaves=6)

    def render(node):
        if isinstance(node, Path):
            return node.glob
        if isinstance(node, Call):
            return f"{node.name}({', '.join(map(render_arg, node.args))})"
        raise AssertionError(node)

    def render_arg(a):
        if isinstance(a, (Call, Path)):
            return render(a)
        if isinstance(a, str):
            return f"'{a}'"
        if isinstance(a, float) and a == int(a):
            return f"{a:.1f}"
        return repr(a)

    @settings(derandomize=True, max_examples=200, deadline=None)
    @given(asts)
    def check(ast):
        assert parse_target(render(ast)) == ast

    check()


# --------------------------------------------------------------------- #
# graphite-web API-parity fixes (windowSize EMA, step-aware hitcount,
# null-safe percentileOfSeries, groupByNode default, list-order limit)
# --------------------------------------------------------------------- #


def test_eval_ema_takes_window_size_not_alpha(frame):
    # graphite: exponentialMovingAverage(x, 3) means alpha = 2/(3+1) = 0.5
    out = evaluate_target(frame, "exponentialMovingAverage(ev.click.m1, 3)")
    got = {r.ts: r.value for r in out.collect()}
    assert got[0] == 1.0
    assert got[60] == 0.5 * 2.0 + 0.5 * 1.0
    assert got[120] == 0.5 * 4.0 + 0.5 * 1.5
    # duration windowSize converts via step: '3min' at step=60 -> 3 points
    dur = evaluate_target(
        frame, "exponentialMovingAverage(ev.click.m1, '3min')", step=60
    )
    dg = {r.ts: r.value for r in dur.collect()}
    assert dg == got
    with pytest.raises(TargetSyntaxError):
        evaluate_target(frame, "exponentialMovingAverage(ev.click.m1, 0)")


def test_eval_hitcount_uses_series_step(spark):
    # a 300s-step series: rate 2/s over 300s slots -> 600 hits per slot
    rows = [("m.a", 0, 2.0), ("m.a", 300, 2.0), ("m.a", 600, 2.0)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = evaluate_target(frame, "hitcount(m.a, '10min')")
    got = {r.ts: r.value for r in out.collect()}
    # bucket [0,600): two slots x 2.0 x 300s = 1200 ; [600,1200): 600
    assert got[0] == 1200.0 and got[600] == 600.0
    # explicit step wins over the derived one
    forced = evaluate_target(frame, "hitcount(m.a, '10min')", step=60)
    fg = {r.ts: r.value for r in forced.collect()}
    assert fg[0] == 240.0 and fg[600] == 120.0


def test_eval_percentile_ignores_null_slots(spark):
    rows = [
        ("s.a", 0, None), ("s.b", 0, 1.0), ("s.c", 0, 2.0), ("s.d", 0, 3.0),
    ]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = evaluate_target(frame, "percentileOfSeries(s.*, 50)")
    [r] = out.collect()
    # nearest-rank p50 of {1,2,3} = rank ceil(3*.5)=2 -> 2.0 ; with the
    # NULL counted, n=4 would select rank 2 of a NULL-first ordering
    assert r.value == 2.0


def test_eval_group_by_node_defaults_to_average(spark):
    rows = [("dc1.web.cpu", 0, 1.0), ("dc2.web.cpu", 0, 3.0),
            ("dc1.db.cpu", 0, 8.0)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = evaluate_target(frame, "groupByNode(*.*.cpu, 1)")
    got = {(r.metric, r.ts): r.value for r in out.collect()}
    assert got[("web", 0)] == 2.0          # average, not sum
    assert got[("db", 0)] == 8.0
    with pytest.raises(TargetSyntaxError):
        evaluate_target(frame, "groupByNode(*.*.cpu)")


def test_eval_limit_preserves_list_order(frame):
    # graphite limit() keeps the FIRST n series in list (name) order —
    # ev.click.m1 ranks before ev.error.m1/ev.view.m1 despite a lower total
    out = evaluate_target(frame, "limit(ev.*.m1, 1)")
    assert set(r.metric for r in out.collect()) == {"ev.click.m1"}


# --------------------------------------------------------------------- #
# combine / transform / filter families (graphite-web public functions)
# --------------------------------------------------------------------- #


def test_eval_multi_arg_combines(frame):
    # sumSeries accepts N seriesLists, not just one glob
    out = _vals(evaluate_target(frame, "sumSeries(ev.click.m1, ev.view.m1)"))
    assert [(v[1], v[2]) for v in out] == [(0, 11.0), (60, 22.0), (120, 4.0)]
    rng = _vals(evaluate_target(frame, "rangeOfSeries(ev.*.m1)"))
    assert [(v[1], v[2]) for v in rng] == [(0, 9.5), (60, 18.0), (120, 0.0)]
    cnt = _vals(evaluate_target(frame, "countSeries(ev.*.m1)"))
    assert [(v[1], v[2]) for v in cnt] == [(0, 3.0), (60, 2.0), (120, 1.0)]


def test_eval_diff_and_divide(frame):
    diff = _vals(evaluate_target(frame, "diffSeries(ev.view.m1, ev.click.m1)"))
    assert [(v[1], v[2]) for v in diff] == [(0, 9.0), (60, 18.0)]
    div = _vals(evaluate_target(frame, "divideSeries(ev.view.m1, ev.click.m1)"))
    assert [(v[1], v[2]) for v in div] == [(0, 10.0), (60, 10.0)]
    mul = _vals(evaluate_target(frame, "multiplySeries(ev.click.m1, ev.view.m1)"))
    # ts=120 exists only for click -> None (graphite aligned-slot mul)
    assert [(v[1], v[2]) for v in mul] == [(0, 10.0), (60, 40.0), (120, None)]


def test_eval_transform_family(spark):
    rows = [("a.x", 0, None), ("a.x", 60, 4.0), ("a.x", 120, -9.0),
            ("a.x", 180, 0.0)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    tn = {r.ts: r.value for r in
          evaluate_target(frame, "transformNull(a.x, -1)").collect()}
    assert tn[0] == -1.0 and tn[60] == 4.0
    nn = {r.ts: r.value for r in
          evaluate_target(frame, "isNonNull(a.x)").collect()}
    assert (nn[0], nn[60]) == (0.0, 1.0)
    inv = {r.ts: r.value for r in
           evaluate_target(frame, "invert(a.x)").collect()}
    assert inv[60] == 0.25 and inv[180] is None    # 1/0 -> None
    sq = {r.ts: r.value for r in
          evaluate_target(frame, "squareRoot(a.x)").collect()}
    assert sq[60] == 2.0 and sq[120] is None       # sqrt(<0) -> None
    lg = {r.ts: r.value for r in
          evaluate_target(frame, "logarithm(a.x, 2)").collect()}
    assert lg[60] == 2.0 and lg[120] is None and lg[180] is None


def test_eval_per_second_and_delay(spark):
    rows = [("c.n", 0, 100.0), ("c.n", 60, 160.0), ("c.n", 120, 40.0),
            ("c.n", 180, 100.0)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    ps = {r.ts: r.value for r in
          evaluate_target(frame, "perSecond(c.n)").collect()}
    assert ps[60] == 1.0                  # (160-100)/60
    assert ps[120] is None                # counter reset
    assert ps[180] == 1.0
    dl = {r.ts: r.value for r in
          evaluate_target(frame, "delay(c.n, 1)").collect()}
    assert dl[0] is None and dl[60] == 100.0 and dl[180] == 40.0


def test_eval_filter_by_stat_families(frame):
    keep = evaluate_target(frame, "averageAbove(ev.*.m1, 2.0)")
    assert set(r.metric for r in keep.collect()) == {"ev.click.m1", "ev.view.m1"}
    # click avg = 7/3 < 3 -> only view stays
    keep2 = evaluate_target(frame, "averageAbove(ev.*.m1, 3.0)")
    assert set(r.metric for r in keep2.collect()) == {"ev.view.m1"}
    cur = evaluate_target(frame, "currentAbove(ev.*.m1, 4.0)")
    # last values: click 4.0 @120, view 20.0 @60, error 0.5 @0
    assert set(r.metric for r in cur.collect()) == {"ev.click.m1", "ev.view.m1"}
    low = evaluate_target(frame, "maximumBelow(ev.*.m1, 4.0)")
    assert set(r.metric for r in low.collect()) == {"ev.click.m1", "ev.error.m1"}
    top = evaluate_target(frame, "highestCurrent(ev.*.m1, 1)")
    assert set(r.metric for r in top.collect()) == {"ev.view.m1"}
    hm = evaluate_target(frame, "highestMax(ev.*.m1, 2)")
    assert set(r.metric for r in hm.collect()) == {"ev.click.m1", "ev.view.m1"}


def test_eval_npercentile_and_alias_sub(frame):
    np_ = {(r.metric, r.ts): r.value for r in
           evaluate_target(frame, "nPercentile(ev.click.m1, 50)").collect()}
    # click values {1,2,4}: nearest-rank p50 = 2.0 as a constant line
    assert np_[("ev.click.m1", 0)] == 2.0
    assert np_[("ev.click.m1", 120)] == 2.0
    sub = evaluate_target(frame, "aliasSub(ev.click.m1, 'ev\\.', 'x.')")
    assert set(r.metric for r in sub.collect()) == {"x.click.m1"}


def test_eval_moving_family(spark):
    rows = [("m.x", 0, 3.0), ("m.x", 60, 1.0), ("m.x", 120, 5.0),
            ("m.x", 180, 2.0)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    ms = {r.ts: r.value for r in
          evaluate_target(frame, "movingSum(m.x, 2)").collect()}
    assert ms == {0: 3.0, 60: 4.0, 120: 6.0, 180: 7.0}
    mx = {r.ts: r.value for r in
          evaluate_target(frame, "movingMax(m.x, 3)").collect()}
    assert mx[120] == 5.0 and mx[180] == 5.0
    mn = {r.ts: r.value for r in
          evaluate_target(frame, "movingMin(m.x, 2)").collect()}
    assert mn[120] == 1.0 and mn[180] == 2.0
    md = {r.ts: r.value for r in
          evaluate_target(frame, "movingMedian(m.x, 3)").collect()}
    # trailing-3 frames: [3] [3,1] [3,1,5] [1,5,2] -> nearest-rank medians
    assert md == {0: 3.0, 60: 1.0, 120: 3.0, 180: 2.0}


def test_eval_as_percent_and_offset_to_zero(frame):
    ap = {(r.metric, r.ts): r.value for r in
          evaluate_target(frame, "asPercent(ev.{click,view}.m1)").collect()}
    assert ap[("ev.click.m1", 0)] == 1.0 / 11.0 * 100.0
    assert ap[("ev.view.m1", 0)] == 10.0 / 11.0 * 100.0
    assert ap[("ev.click.m1", 120)] == 100.0
    oz = {r.ts: r.value for r in
          evaluate_target(frame, "offsetToZero(ev.click.m1)").collect()}
    assert oz == {0: 0.0, 60: 1.0, 120: 3.0}


# --------------------------------------------------------------------- #
# round-4 families: filters, sorts, node grouping, time, generators
# --------------------------------------------------------------------- #


@pytest.fixture()
def wide(spark):
    rows = [
        ("a.x.m1", 0, 1.0), ("a.x.m1", 60, 2.0), ("a.x.m1", 120, None),
        ("a.x.m1", 180, 4.0),
        ("a.y.m1", 0, 10.0), ("a.y.m1", 60, 20.0), ("a.y.m1", 120, 30.0),
        ("a.y.m1", 180, 40.0),
        ("a.z.m2", 0, 5.0), ("a.z.m2", 60, 5.0), ("a.z.m2", 120, 5.0),
        ("a.z.m2", 180, 6.0),
    ]
    return spark.createDataFrame(rows, "metric string, ts long, value double")


def _metrics(df):
    return {r.metric for r in df.select("metric").distinct().collect()}


def test_eval_grep_exclude_and_generic_selectors(wide):
    assert _metrics(evaluate_target(wide, "exclude(a.*.*, 'y')")) == {
        "a.x.m1", "a.z.m2"}
    assert _metrics(evaluate_target(wide, "grep(a.*.*, 'm1$')")) == {
        "a.x.m1", "a.y.m1"}
    assert _metrics(evaluate_target(wide, "mostDeviant(a.*.*, 1)")) == {
        "a.y.m1"}
    assert _metrics(evaluate_target(wide, "highest(a.*.*, 1, 'max')")) == {
        "a.y.m1"}
    # lowest defaults: n=1, func='average'
    assert _metrics(evaluate_target(wide, "lowest(a.*.*)")) == {"a.x.m1"}
    assert _metrics(
        evaluate_target(wide, "filterSeries(a.*.*, 'average', '>', 5)")
    ) == {"a.y.m1", "a.z.m2"}


def test_eval_limit_respects_child_sort(wide):
    assert _metrics(
        evaluate_target(wide, "limit(sortByMaxima(a.*.*), 1)")
    ) == {"a.y.m1"}
    assert _metrics(
        evaluate_target(wide, "limit(sortByMinima(a.*.*), 1)")
    ) == {"a.x.m1"}
    assert _metrics(
        evaluate_target(wide, "limit(sortByName(a.*.*), 2)")
    ) == {"a.x.m1", "a.y.m1"}


def test_eval_generic_aggregate(wide):
    # median of [1,10] / [2,20] -> averaged middles; null slots ignored
    med = {r.ts: r.value for r in
           evaluate_target(wide, "aggregate(a.*.m1, 'median')").collect()}
    assert med == {0: 5.5, 60: 11.0, 120: 30.0, 180: 22.0}
    # diff = first series (name order) minus the rest
    diff = {r.ts: r.value for r in
            evaluate_target(wide, "aggregate(a.*.*, 'diff')").collect()}
    assert diff[0] == 1.0 - 15.0 and diff[60] == 2.0 - 25.0
    rng = {r.ts: r.value for r in
           evaluate_target(wide, "aggregate(a.*.*, 'range')").collect()}
    assert rng[0] == 9.0 and rng[180] == 36.0


def test_eval_aggregate_line_constant_per_series(wide):
    out = evaluate_target(wide, "aggregateLine(a.x.m1, 'max')")
    got = {r.ts: r.value for r in out.collect()}
    assert got == {0: 4.0, 60: 4.0, 120: 4.0, 180: 4.0}


def test_eval_group_by_nodes_and_wildcards(wide):
    g = {(r.metric, r.ts): r.value for r in
         evaluate_target(wide, "groupByNodes(a.*.*, 'sum', 0, 2)").collect()}
    assert g[("a.m1", 0)] == 11.0 and g[("a.m2", 180)] == 6.0
    s = {(r.metric, r.ts): r.value for r in
         evaluate_target(wide, "sumSeriesWithWildcards(a.*.*, 1)").collect()}
    assert s[("a.m1", 60)] == 22.0
    a = {(r.metric, r.ts): r.value for r in
         evaluate_target(wide, "aggregateWithWildcards(a.*.*, 'max', 1)").collect()}
    assert a[("a.m1", 120)] == 30.0
    assert _metrics(evaluate_target(wide, "aliasByMetric(a.x.m1)")) == {"m1"}


def test_eval_weighted_average_and_divide_lists(wide):
    wa = {r.ts: r.value for r in
          evaluate_target(wide, "weightedAverage(a.*.m1, a.*.m1, 1)").collect()}
    # sum(v*w)/sum(w): ts0 = (1*1 + 10*10) / 11
    assert abs(wa[0] - 101.0 / 11.0) < 1e-12
    dl = {r.ts: r.value for r in
          evaluate_target(wide, "divideSeriesLists(a.x.m1, a.y.m1)").collect()}
    assert dl[0] == 0.1 and dl[120] is None


def test_eval_time_family(wide):
    ibi = {r.ts: r.value for r in
           evaluate_target(wide, "integralByInterval(a.x.m1, '2min')").collect()}
    # resets at 120; None accumulates as 0
    assert ibi == {0: 1.0, 60: 3.0, 120: 0.0, 180: 4.0}
    sm = {r.ts: r.value for r in
          evaluate_target(wide, "smartSummarize(a.x.m1, '2min', 'sum')").collect()}
    assert sm == {0: 3.0, 120: 4.0}
    stack = {(r.metric, r.ts) for r in
             evaluate_target(wide, "timeStack(a.x.m1, '1min', 0, 2)").collect()}
    assert ("timeShift(a.x.m1, 1)", 60) in stack  # ts=0 shifted forward
    sl = {r.ts for r in
          evaluate_target(wide, "timeSlice(a.x.m1, 60, 120)").collect()}
    assert sl == {60, 120}


def test_eval_regression_changed_interpolate(wide):
    lr = {r.ts: r.value for r in
          evaluate_target(wide, "linearRegression(a.y.m1)").collect()}
    assert lr == {0: 10.0, 60: 20.0, 120: 30.0, 180: 40.0}  # exact fit
    ch = {r.ts: r.value for r in
          evaluate_target(wide, "changed(a.x.m1)").collect()}
    assert ch == {0: 0.0, 60: 1.0, 120: 0.0, 180: 0.0}
    it = {r.ts: r.value for r in
          evaluate_target(wide, "interpolate(a.x.m1)").collect()}
    assert it[120] == 3.0  # linear between 2.0@60 and 4.0@180
    limited = {r.ts: r.value for r in
               evaluate_target(wide, "interpolate(a.x.m1, 0)").collect()}
    assert limited[120] is None  # gap of 1 slot > limit 0


def test_eval_scalar_round_minmax_stdev(wide):
    mm = {r.ts: r.value for r in
          evaluate_target(wide, "minMax(a.y.m1)").collect()}
    assert mm[0] == 0.0 and mm[180] == 1.0
    sd = {r.ts: r.value for r in
          evaluate_target(wide, "stdev(a.y.m1, 2)").collect()}
    assert sd[0] == 0.0 and sd[60] == 5.0  # pop stddev of [10,20]
    rd = {r.ts: r.value for r in
          evaluate_target(wide, "round(scale(a.y.m1, 0.333), 1)").collect()}
    assert rd[0] == 3.3


def test_eval_generators_use_source_spine(wide):
    cl = {r.ts: r.value for r in
          evaluate_target(wide, "constantLine(7)").collect()}
    assert cl == {0: 7.0, 60: 7.0, 120: 7.0, 180: 7.0}
    th = evaluate_target(wide, "threshold(60, 'limit')")
    assert _metrics(th) == {"limit"}
    idn = {r.ts: r.value for r in
           evaluate_target(wide, "identity('t')").collect()}
    assert idn[120] == 120.0


def test_eval_percentile_band_filters(wide):
    # 3 series: band at n=90 spans [min, max] per the graphite
    # nearest-rank formula, and boundary points count as outside -> all
    # three survive removeBetweenPercentile; averageOutsidePercentile
    # keeps the extremes
    assert _metrics(
        evaluate_target(wide, "removeBetweenPercentile(a.*.*, 90)")
    ) == {"a.x.m1", "a.y.m1", "a.z.m2"}
    out = _metrics(evaluate_target(wide, "averageOutsidePercentile(a.*.*, 90)"))
    assert "a.x.m1" in out and "a.y.m1" in out


def test_eval_moving_window_generic(spark):
    rows = [("m.x", 0, 3.0), ("m.x", 60, 1.0), ("m.x", 120, 5.0),
            ("m.x", 180, 2.0)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    mr = {r.ts: r.value for r in
          evaluate_target(frame, "movingWindow(m.x, 2, 'range')").collect()}
    assert mr == {0: 0.0, 60: 2.0, 120: 4.0, 180: 3.0}
    ml = {r.ts: r.value for r in
          evaluate_target(frame, "movingWindow(m.x, 3, 'last')").collect()}
    assert ml[180] == 2.0
    # default func is average — identical to movingAverage
    ma = {r.ts: r.value for r in
          evaluate_target(frame, "movingWindow(m.x, 2)").collect()}
    mv = {r.ts: r.value for r in
          evaluate_target(frame, "movingAverage(m.x, 2)").collect()}
    assert ma == mv


def test_consolidate_by_passthrough_and_method(wide):
    from whisper_spark.render import (
        consolidate,
        consolidation_method,
        parse_target,
    )

    out = {(r.metric, r.ts): r.value for r in
           evaluate_target(wide, "consolidateBy(a.x.m1, 'sum')").collect()}
    raw = {(r.metric, r.ts): r.value for r in
           evaluate_target(wide, "a.x.m1").collect()}
    assert out == raw                                  # data passthrough
    assert consolidation_method(
        parse_target("scale(consolidateBy(a.x.m1, 'sum'), 2)")) == "sum"
    assert consolidation_method(parse_target("cumulative(a.x.m1)")) == "sum"
    assert consolidation_method(parse_target("a.x.m1")) == "average"
    with pytest.raises(TargetSyntaxError):
        evaluate_target(wide, "consolidateBy(a.x.m1, 'bogus')")

    # budget 2 points over a 4-slot/60s series -> cstep 120, sums per bin
    df = evaluate_target(wide, "consolidateBy(a.y.m1, 'sum')")
    got, cstep = consolidate(df, 2, 60, "sum")
    assert cstep == 120
    vals = {r.ts: r.value for r in got.collect()}
    assert vals == {0: 30.0, 120: 70.0}


def test_cli_render_max_datapoints(spark, tmp_path, capsys):
    s = WhisperStore.create(
        spark, str(tmp_path / "db"), [(60, 60)], x_files_factor=0.0
    )
    s.update_many(
        [(NOW - 60 * i, float(i)) for i in range(1, 7)], now=NOW, metric="m.cpu"
    )
    assert (
        cli.main(
            [
                "render", s.path, "cumulative(m.cpu)",
                "--from", str(NOW - 420), "--until", str(NOW), "--now", str(NOW),
                "--max-datapoints", "3", "--json",
            ]
        )
        == 0
    )
    data = json.loads(capsys.readouterr().out)
    (label,) = data.keys()
    pts = [p for p in data[label] if p[1] is not None]
    assert 0 < len(pts) <= 3                       # under the budget
    total = sum(v for _, v in pts)
    assert total == sum(range(1, 7))               # sum-consolidated, lossless


def test_eval_substr_and_unique(wide):
    assert _metrics(evaluate_target(wide, "substr(a.x.m1, 1)")) == {"x.m1"}
    assert _metrics(evaluate_target(wide, "substr(a.x.m1, 0, 2)")) == {"a.x"}
    u = evaluate_target(wide, "unique(a.x.m1, a.{x,y}.m1)")
    # a.x.m1 appears in both lists but its rows survive exactly once
    assert u.count() == 8 and _metrics(u) == {"a.x.m1", "a.y.m1"}


def test_eval_remove_percentile_per_series(spark):
    rows = [("m.x", 60 * i, float(i)) for i in range(1, 11)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    above = {r.ts: r.value for r in
             evaluate_target(frame, "removeAbovePercentile(m.x, 50)").collect()}
    # graphite rank = int(0.5 * 11) = 5 -> threshold 5.0 (at ts=300)
    assert above[300] == 5.0 and above[360] is None
    below = {r.ts: r.value for r in
             evaluate_target(frame, "removeBelowPercentile(m.x, 50)").collect()}
    assert below[240] is None and below[300] == 5.0


def test_eval_fallback_series(wide):
    out = _metrics(evaluate_target(wide, "fallbackSeries(a.x.m1, a.y.m1)"))
    assert out == {"a.x.m1"}
    out = _metrics(evaluate_target(wide, "fallbackSeries(nope.*, a.y.m1)"))
    assert out == {"a.y.m1"}


def test_eval_sort_by_generic_with_limit(wide):
    assert _metrics(
        evaluate_target(wide, "limit(sortBy(a.*.*, 'max'), 1)")
    ) == {"a.x.m1"}                                    # smallest max first
    assert _metrics(
        evaluate_target(wide, "limit(sortBy(a.*.*, 'max', true), 1)")
    ) == {"a.y.m1"}                                    # reversed: largest
    assert _metrics(evaluate_target(wide, "sortBy(a.*.*)")) == {
        "a.x.m1", "a.y.m1", "a.z.m2"}                  # passthrough alone


def test_eval_keep_last_value_gap_limit(spark):
    rows = [("m", 0, 1.0), ("m", 60, None), ("m", 120, None), ("m", 180, 4.0),
            ("m", 240, None), ("m", 300, None), ("m", 360, None),
            ("m", 420, 8.0), ("m", 480, None)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = {r.ts: r.value for r in
           evaluate_target(frame, "keepLastValue(m, 2)").collect()}
    # 2-slot gap filled; 3-slot gap left broken (graphite fills only
    # whole runs <= limit); trailing 1-slot gap filled
    assert out[60] == 1.0 and out[120] == 1.0
    assert out[240] is None and out[300] is None and out[360] is None
    assert out[480] == 8.0


def test_eval_multiply_series_with_wildcards(wide):
    out = {(r.metric, r.ts): r.value for r in
           evaluate_target(
               wide, "multiplySeriesWithWildcards(a.{x,y}.m1, 1)").collect()}
    assert out[("a.m1", 0)] == 10.0                    # 1*10
    assert out[("a.m1", 120)] is None                  # null slot -> None


def test_eval_apply_by_node(spark):
    rows = [
        ("srv.a.free", 0, 10.0), ("srv.a.total", 0, 40.0),
        ("srv.b.free", 0, 30.0), ("srv.b.total", 0, 60.0),
    ]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = {r.metric: r.value for r in evaluate_target(
        frame,
        "applyByNode(srv.*.free, 1, 'divideSeries(%.free, %.total)', '%.pct')",
    ).collect()}
    assert out == {"srv.a.pct": 0.25, "srv.b.pct": 0.5}


def test_eval_use_series_above(spark):
    rows = [
        ("app.req.count", 0, 500.0), ("app.req.count", 60, 900.0),
        ("app.idle.count", 0, 3.0),
        ("app.req.latency", 0, 12.0), ("app.req.latency", 60, 15.0),
        ("app.idle.latency", 0, 1.0),
    ]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    # only app.req.count peaks above 100 -> draw app.req.latency
    out = evaluate_target(
        frame, "useSeriesAbove(app.*.count, 100, 'count', 'latency')"
    )
    got = {(r.metric, r.ts): r.value for r in out.collect()}
    assert got == {("app.req.latency", 0): 12.0, ("app.req.latency", 60): 15.0}


def test_eval_as_percent_two_arg_forms(wide):
    vs = {r.ts: r.value for r in
          evaluate_target(wide, "asPercent(a.x.m1, 50)").collect()}
    assert vs[0] == 2.0 and vs[180] == 8.0
    vt = {r.ts: r.value for r in
          evaluate_target(wide, "asPercent(a.x.m1, a.y.m1)").collect()}
    assert vt[0] == 10.0 and vt[180] == 10.0


def test_eval_summarize_align_to_from(spark):
    rows = [("m", 30, 1.0), ("m", 90, 2.0), ("m", 150, 4.0)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    epoch = {r.ts: r.value for r in
             evaluate_target(frame, "summarize(m, '2min', 'sum')").collect()}
    assert epoch == {0: 3.0, 120: 4.0}
    aligned = {r.ts: r.value for r in evaluate_target(
        frame, "summarize(m, '2min', 'sum', true)").collect()}
    assert aligned == {30: 3.0, 150: 4.0}       # anchored at series start
    last = {r.ts: r.value for r in evaluate_target(
        frame, "summarize(m, '2min', 'last', true)").collect()}
    assert last == {30: 2.0, 150: 4.0}          # last by TIME in bucket


def test_parse_signed_durations_and_time_shift(spark):
    assert parse_duration("-1h") == -3600
    assert parse_duration("+30s") == 30
    rows = [("m", 0, 1.0), ("m", 60, 2.0)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    # graphite: no sign or '-' = back in time -> data drawn LATER
    back = {r.ts for r in
            evaluate_target(frame, "timeShift(m, '-1min')").collect()}
    assert back == {60, 120}
    same = {r.ts for r in
            evaluate_target(frame, "timeShift(m, '1min')").collect()}
    assert same == back
    ahead = {r.ts for r in
             evaluate_target(frame, "timeShift(m, '+1min')").collect()}
    assert ahead == {-60, 0}


# --------------------------------------------------------------------- #
# graphite 1.1 tag support (carbon tagged names: name;key=value;...)
# --------------------------------------------------------------------- #


@pytest.fixture()
def tagged(spark):
    rows = [
        ("disk.used;dc=east;host=web1", 0, 10.0),
        ("disk.used;dc=east;host=web1", 60, 12.0),
        ("disk.used;dc=east;host=web2", 0, 20.0),
        ("disk.used;dc=west;host=web3", 0, 40.0),
        ("cpu.load;dc=east;host=web1", 0, 1.0),
    ]
    return spark.createDataFrame(rows, "metric string, ts long, value double")


def test_eval_series_by_tag(tagged):
    out = _metrics(evaluate_target(
        tagged, "seriesByTag('name=disk.used', 'dc=east')"))
    assert out == {"disk.used;dc=east;host=web1", "disk.used;dc=east;host=web2"}
    neq = _metrics(evaluate_target(
        tagged, "seriesByTag('name=disk.used', 'dc!=east')"))
    assert neq == {"disk.used;dc=west;host=web3"}
    rx = _metrics(evaluate_target(
        tagged, "seriesByTag('host=~web[12]')"))
    assert rx == {"disk.used;dc=east;host=web1", "disk.used;dc=east;host=web2",
                  "cpu.load;dc=east;host=web1"}
    nrx = _metrics(evaluate_target(
        tagged, "seriesByTag('name=disk.used', 'host!=~web1')"))
    assert nrx == {"disk.used;dc=east;host=web2", "disk.used;dc=west;host=web3"}


def test_eval_alias_and_group_by_tags(tagged):
    al = _metrics(evaluate_target(
        tagged, "aliasByTags(seriesByTag('name=disk.used'), 'host', 'dc')"))
    assert al == {"web1.east", "web2.east", "web3.west"}
    g = {(r.metric, r.ts): r.value for r in evaluate_target(
        tagged, "groupByTags(seriesByTag('name=disk.used'), 'sum', 'dc')"
    ).collect()}
    assert g[("east", 0)] == 30.0 and g[("west", 0)] == 40.0
    assert g[("east", 60)] == 12.0


def test_eval_moving_family_duration_windows(spark):
    rows = [("m", 0, 3.0), ("m", 60, 1.0), ("m", 120, 5.0), ("m", 180, 2.0)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    # '2min' at the threaded 60s step -> 2 points, same as movingSum(m, 2)
    by_dur = {r.ts: r.value for r in evaluate_target(
        frame, "movingSum(m, '2min')", step=60).collect()}
    by_n = {r.ts: r.value for r in evaluate_target(
        frame, "movingSum(m, 2)").collect()}
    assert by_dur == by_n == {0: 3.0, 60: 4.0, 120: 6.0, 180: 7.0}
    mw = {r.ts: r.value for r in evaluate_target(
        frame, "movingWindow(m, '3min', 'max')", step=60).collect()}
    assert mw[180] == 5.0


def test_eval_series_lists_family(wide):
    d = {r.ts: r.value for r in evaluate_target(
        wide, "diffSeriesLists(a.x.m1, a.y.m1)").collect()}
    assert d[0] == -9.0 and d[120] is None
    m = {r.ts: r.value for r in evaluate_target(
        wide, "multiplySeriesLists(a.x.m1, a.y.m1)").collect()}
    assert m[0] == 10.0
    s = {r.ts: r.value for r in evaluate_target(
        wide, "sumSeriesLists(a.x.m1, a.y.m1)").collect()}
    assert s[180] == 44.0
    g = {r.ts: r.value for r in evaluate_target(
        wide, "aggregateSeriesLists(a.x.m1, a.y.m1, 'diff')").collect()}
    assert g == d


def test_eval_aggregate_xfiles_factor(wide):
    # at ts=120, only 2 of 3 series have values (a.x.m1 is null there)
    gated = {r.ts: r.value for r in evaluate_target(
        wide, "aggregate(a.*.*, 'sum', 0.9)").collect()}
    assert gated[0] == 16.0 and gated[120] is None
    loose = {r.ts: r.value for r in evaluate_target(
        wide, "aggregate(a.*.*, 'sum', 0.5)").collect()}
    assert loose[120] == 35.0


def test_eval_counter_wrap_and_scale_to_seconds(spark):
    rows = [("c", 0, 250.0), ("c", 60, 252.0), ("c", 120, 1.0)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    plain = {r.ts: r.value for r in evaluate_target(
        frame, "nonNegativeDerivative(c)").collect()}
    assert plain[120] is None                    # reset nulls out
    wrapped = {r.ts: r.value for r in evaluate_target(
        frame, "nonNegativeDerivative(c, 255)").collect()}
    assert wrapped[120] == 255.0 - 252.0 + 1.0 + 1.0   # wrap at 255
    ps = {r.ts: r.value for r in evaluate_target(
        frame, "perSecond(c, 255)").collect()}
    assert ps[120] == wrapped[120] / 60.0
    sts = {r.ts: r.value for r in evaluate_target(
        frame, "scaleToSeconds(c, 1)", step=60).collect()}
    assert sts[0] == 250.0 / 60.0
    # without a threaded step the per-series delta (60s) is derived
    sts2 = {r.ts: r.value for r in evaluate_target(
        frame, "scaleToSeconds(c, 1)").collect()}
    assert abs(sts2[0] - 250.0 / 60.0) < 1e-12


def test_eval_remove_empty_series(spark):
    rows = [("a", 0, 1.0), ("a", 60, 2.0),
            ("b", 0, None), ("b", 60, None),
            ("c", 0, 5.0), ("c", 60, None)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    assert _metrics(evaluate_target(frame, "removeEmptySeries(*)")) == {
        "a", "c"}
    assert _metrics(evaluate_target(frame, "removeEmptySeries(*, 0.9)")) == {
        "a"}
    lg = {r.ts: r.value for r in evaluate_target(
        frame, "log(a, 10)").collect()}
    assert lg[0] == 0.0


def test_eval_sigmoid_logit_exp(spark):
    rows = [("m", 0, 0.0), ("m", 60, 0.5), ("m", 120, 2.0)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    sg = {r.ts: r.value for r in evaluate_target(frame, "sigmoid(m)").collect()}
    assert sg[0] == 0.5
    lg = {r.ts: r.value for r in evaluate_target(frame, "logit(m)").collect()}
    assert lg[60] == 0.0 and lg[120] is None     # out of (0,1) -> None
    ex = {r.ts: r.value for r in evaluate_target(frame, "exp(m)").collect()}
    assert ex[0] == 1.0


def test_cli_render_multiple_targets(spark, tmp_path, capsys):
    s = WhisperStore.create(
        spark, str(tmp_path / "db"), [(60, 60)], x_files_factor=0.0
    )
    s.update_many([(NOW - 60, 5.0), (NOW - 120, 7.0)], now=NOW, metric="m.a")
    assert (
        cli.main(
            [
                "render", s.path, "m.a", "scale(m.a, 2)",
                "--from", str(NOW - 300), "--until", str(NOW),
                "--now", str(NOW), "--json",
            ]
        )
        == 0
    )
    data = json.loads(capsys.readouterr().out)
    # multi-target JSON is keyed by target (transforms keep the source
    # series name, so same-name series would collide in one flat dict)
    assert set(data) == {"m.a", "scale(m.a, 2)"}
    raw = {ts: v for ts, v in data["m.a"]["m.a"] if v is not None}
    scaled = {ts: v for ts, v in data["scale(m.a, 2)"]["m.a"] if v is not None}
    assert scaled == {ts: v * 2 for ts, v in raw.items()}


def test_review_fixes_consolidate_and_method_precedence(spark):
    from whisper_spark.render import (
        consolidate,
        consolidation_method,
        parse_target,
    )

    # range start not on a cstep boundary: epoch alignment would spill a
    # third bucket; range alignment keeps the budget
    rows = [("m", 60 * i, float(i)) for i in range(1, 5)]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    out, cstep = consolidate(frame, 2, 60, "sum")
    got = {r.ts: r.value for r in out.collect()}
    assert len(got) <= 2 and sum(got.values()) == 10.0
    assert min(got) == 60                       # anchored at the range start

    # outermost consolidateBy wins (graphite overwrites inner metadata)
    assert consolidation_method(
        parse_target("consolidateBy(consolidateBy(m, 'max'), 'sum')")
    ) == "sum"


def test_review_fixes_safe_diff_and_moving_median(wide):
    # safeDiff: a null in the first series does not null the result
    d = {r.ts: r.value for r in
         evaluate_target(wide, "aggregate(a.*.*, 'diff')").collect()}
    assert d[120] == 30.0 - 5.0                 # a.x null -> first non-null
    mm = {r.ts: r.value for r in
          evaluate_target(wide, "movingWindow(a.y.m1, 3, 'median')").collect()}
    med = {r.ts: r.value for r in
           evaluate_target(wide, "movingMedian(a.y.m1, 3)").collect()}
    assert mm == med


def test_review_fixes_as_percent_pairing_and_wrap_guard(spark):
    rows = [
        ("srv.a.used", 0, 1.0), ("srv.b.used", 0, 3.0),
        ("srv.a.total", 0, 4.0), ("srv.b.total", 0, 4.0),
    ]
    frame = spark.createDataFrame(rows, "metric string, ts long, value double")
    # multi-series total: one-to-one sorted pairing, not a shared sum
    ap = {r.metric: r.value for r in evaluate_target(
        frame, "asPercent(srv.*.used, srv.*.total)").collect()}
    assert ap == {"srv.a.used": 25.0, "srv.b.used": 75.0}

    # counter wrap only when the ceiling is plausible
    c = [("c", 0, 250.0), ("c", 60, 300.0), ("c", 120, 10.0)]
    cf = spark.createDataFrame(c, "metric string, ts long, value double")
    w = {r.ts: r.value for r in evaluate_target(
        cf, "nonNegativeDerivative(c, 255)").collect()}
    assert w[60] == 50.0
    assert w[120] == 255.0 - 300.0 + 10.0 + 1.0 or w[120] is None


# --------------------------------------------------------------------- #
# round-4 continuation: full graphite-web function-list closure
# --------------------------------------------------------------------- #


def test_eval_group_add_and_pow_series_fold(frame):
    g = _vals(evaluate_target(frame, "group(ev.click.m1, ev.view.m1)"))
    assert len(g) == 5 and {v[0] for v in g} == {"ev.click.m1", "ev.view.m1"}
    off = _vals(evaluate_target(frame, "add(ev.click.m1, 5)"))
    assert [v[2] for v in off] == [6.0, 7.0, 9.0]
    # powSeries folds ACROSS series in name order: click^error at ts=0
    p = {
        v[1]: v[2]
        for v in _vals(evaluate_target(frame, "powSeries(ev.click.m1, ev.error.m1)"))
    }
    assert p[0] == 1.0 ** 0.5
    # error series has no ts=60 row: fold over the 1-element list is the
    # element itself
    assert p[60] == 2.0 and p[120] == 4.0


def test_eval_map_reduce_series(spark):
    rows = [
        ("srv.a.disk.used", 0, 30.0), ("srv.a.disk.total", 0, 100.0),
        ("srv.b.disk.used", 0, 10.0), ("srv.b.disk.total", 0, 40.0),
        ("srv.a.disk.used", 60, 50.0), ("srv.a.disk.total", 60, 100.0),
    ]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = evaluate_target(
        df,
        "reduceSeries(mapSeries(srv.*.disk.*, 1), 'asPercent', 3, 'used', 'total')",
    )
    got = {(r.metric, r.ts): r.value for r in out.collect()}
    assert got[("srv.a.disk.reduce.asPercent", 0)] == 30.0
    assert got[("srv.b.disk.reduce.asPercent", 0)] == 25.0
    assert got[("srv.a.disk.reduce.asPercent", 60)] == 50.0
    div = evaluate_target(
        df,
        "reduceSeries(mapSeries(srv.*.disk.*, 1), 'divideSeries', 3, 'used', 'total')",
    )
    d = {(r.metric, r.ts): r.value for r in div.collect()}
    assert d[("srv.b.disk.reduce.divideSeries", 0)] == 0.25


def test_eval_cacti_style_and_legend_value(frame):
    out = evaluate_target(frame, "cactiStyle(ev.click.m1)")
    names = {r.metric for r in out.collect()}
    assert names == {"ev.click.m1 Current:4.00 Max:4.00 Min:1.00"}
    assert out.count() == 3  # values untouched
    lv = evaluate_target(frame, "legendValue(ev.click.m1, 'avg', 'max')")
    lnames = {r.metric for r in lv.collect()}
    assert lnames == {"ev.click.m1 (avg: 2.33333) (max: 4)"}


def test_eval_generators_sin_walk_time_vertical(frame):
    t = _vals(evaluate_target(frame, "time('t')"))
    assert [v[2] for v in t] == [0.0, 60.0, 120.0]
    s = {v[1]: v[2] for v in _vals(evaluate_target(frame, "sinFunction('s', 2)"))}
    import math

    assert abs(s[60] - 2 * math.sin(60)) < 1e-12
    w = _vals(evaluate_target(frame, "randomWalk('w')"))
    assert len(w) == 3  # deterministic: same target twice, same walk
    w2 = _vals(evaluate_target(frame, "randomWalk('w')"))
    assert w == w2
    v = _vals(evaluate_target(frame, "verticalLine(60, 'mark')"))
    assert v == [("mark", 60, 1.0)]


def test_eval_transform_null_reference_series(spark):
    rows = [
        ("a.m", 0, None), ("a.m", 60, None), ("a.m", 120, 3.0),
        ("ref.m", 0, 1.0),
    ]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = evaluate_target(df, "transformNull(a.m, -1, ref.m)")
    got = {r.ts: r.value for r in out.collect()}
    # filled only where the reference has a value (ts=0), not ts=60
    assert got[0] == -1.0 and got[60] is None and got[120] == 3.0


def test_eval_compress_gaps_xff_and_display_passthroughs(spark):
    rows = [("a.m", 0, 1.0), ("a.m", 60, None), ("a.m", 120, 2.0)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    cg = _vals(evaluate_target(df, "compressPeriodicGaps(a.m)"))
    assert [(v[1], v[2]) for v in cg] == [(0, 1.0), (120, 2.0)]
    for tgt in (
        "setXFilesFactor(a.m, 0.5)",
        "alpha(a.m, 0.5)", "color(a.m, 'red')", "dashed(a.m)",
        "drawAsInfinite(a.m)", "lineWidth(a.m, 2)", "secondYAxis(a.m)",
        "stacked(a.m)", "areaBetween(a.m)",
    ):
        assert _vals(evaluate_target(df, tgt)) == _vals(df)


def test_eval_holt_winters_confidence_area_matches_bands(spark):
    rows = [("a.m", i * 60, float(i % 5)) for i in range(40)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    area = _vals(evaluate_target(df, "holtWintersConfidenceArea(a.m)", step=60))
    bands = _vals(evaluate_target(df, "holtWintersConfidenceBands(a.m)", step=60))
    assert area == bands


def test_eval_alias_query(spark):
    rows = [
        ("chan.pwr.1", 0, 5.0), ("chan.pwr.1", 60, 7.5),
        ("chan.freq.1", 0, 100.0), ("chan.freq.1", 60, 101.0),
    ]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    out = evaluate_target(
        df, r"aliasQuery(chan.pwr.*, 'pwr', 'freq', 'Power %.1f MHz')"
    )
    got = {(r.metric, r.ts): r.value for r in out.collect()}
    # freq series' LAST value (101.0) lands in the legend; data unchanged
    assert got[("Power 101.0 MHz", 60)] == 7.5
    assert got[("Power 101.0 MHz", 0)] == 5.0


def test_parse_at_time():
    from whisper_spark.render import parse_at_time

    now = 1700000000  # 2023-11-14 22:13:20 UTC
    assert parse_at_time("now", now) == now
    assert parse_at_time("now-1h", now) == now - 3600
    assert parse_at_time("-7d", now) == now - 7 * 86400
    assert parse_at_time("1699990000", now) == 1699990000
    mid = now - now % 86400
    assert parse_at_time("midnight", now) == mid
    assert parse_at_time("noon", now) == mid + 12 * 3600
    assert parse_at_time("teatime", now) == mid + 16 * 3600
    assert parse_at_time("yesterday", now) == mid - 86400
    assert parse_at_time("tomorrow+30min", now) == mid + 86400 + 1800
    assert parse_at_time("20231114", now) == mid
    assert parse_at_time("17:00_20231114", now) == mid + 17 * 3600
    assert parse_at_time("midnight+1h-10min", now) == mid + 3600 - 600
    for bad in ("nonsense", "now-1parsec", "now+"):
        with pytest.raises(TargetSyntaxError):
            parse_at_time(bad, now)


def test_cli_fetch_at_style_times(spark, tmp_path, capsys):
    s = WhisperStore.create(
        spark, str(tmp_path / "atdb"), [(60, 120)], x_files_factor=0.0
    )
    s.update_many(
        [(NOW - 60 * i, float(i)) for i in range(1, 5)], now=NOW, metric="m"
    )
    assert (
        cli.main(
            [
                "fetch", s.path, "m", "--from=now-3min", "--until", "now",
                "--now", str(NOW), "--json",
            ]
        )
        == 0
    )
    data = json.loads(capsys.readouterr().out)
    assert data["start"] >= NOW - 240 and len(data["values"]) == 3


def test_store_render_library_api(spark, tmp_path):
    s = WhisperStore.create(
        spark, str(tmp_path / "rdb"), [(60, 60)], x_files_factor=0.0
    )
    for metric, base in (("web.cpu", 10.0), ("db.cpu", 20.0)):
        s.update_many(
            [(NOW - 60 * i, base + i) for i in range(1, 4)],
            now=NOW, metric=metric,
        )
    res = s.render(
        "sumSeries(*.cpu)", from_time="now-5min", until_time="now", now=NOW
    )
    assert res is not None
    out, step = res
    assert step == 60
    got = {
        r.ts: r.value
        for r in out.collect()
        if r.value is not None
    }
    assert got == {(NOW - 60 * i) // 60 * 60: 30.0 + 2 * i for i in range(1, 4)}


def test_store_render_series_exist_iff_stored(spark, tmp_path):
    """A render's series are the stored metrics its paths match, not
    the names it spells: a literal path the store lacks renders no rows,
    while a stored metric with no point in the window renders one NULL
    row per window slot, alone or beside a series with values."""
    s = WhisperStore.create(
        spark, str(tmp_path / "edb"), [(60, 60)], x_files_factor=0.0
    )
    s.update_many([(NOW - 60, 1.0), (NOW - 120, 2.0)], now=NOW, metric="web.cpu")
    # inside the retention, outside the window and its ring colliders
    s.update_many([(NOW - 3000, 5.0)], now=NOW, metric="db.cpu")
    first = (NOW - 600) // 60 * 60 + 60
    window = [first + 60 * k for k in range(10)]

    def series(target):
        out, step = s.render(target, from_time=NOW - 600, until_time=NOW, now=NOW)
        assert step == 60
        got = {}
        for r in out.collect():
            got.setdefault(r.metric, {})[r.ts] = r.value
        return got

    assert series("web.gpu") == {}
    assert series("db.cpu") == {"db.cpu": dict.fromkeys(window)}
    both = series("*.cpu")
    assert set(both) == {"web.cpu", "db.cpu"}
    assert both["db.cpu"] == dict.fromkeys(window)
    assert sorted(both["web.cpu"]) == window
    assert {ts: v for ts, v in both["web.cpu"].items() if v is not None} == {
        (NOW - 60) // 60 * 60: 1.0, (NOW - 120) // 60 * 60: 2.0,
    }


def test_cli_render_graphite_json_format(spark, tmp_path, capsys):
    s = WhisperStore.create(
        spark, str(tmp_path / "gdb"), [(60, 60)], x_files_factor=0.0
    )
    s.update_many(
        [(NOW - 60, 1.0), (NOW - 120, 2.0)], now=NOW, metric="web.cpu"
    )
    assert (
        cli.main(
            [
                "render", s.path, "scale(web.cpu, 2)",
                "--from", str(NOW - 300), "--until", str(NOW),
                "--now", str(NOW), "--json", "--format", "graphite",
            ]
        )
        == 0
    )
    data = json.loads(capsys.readouterr().out)
    assert isinstance(data, list) and data[0]["target"] == "web.cpu"
    pts = {ts: v for v, ts in data[0]["datapoints"] if v is not None}
    assert pts == {(NOW - 60) // 60 * 60: 2.0, (NOW - 120) // 60 * 60: 4.0}


def test_cli_render_csv_and_raw_formats(spark, tmp_path, capsys):
    s = WhisperStore.create(
        spark, str(tmp_path / "fdb"), [(60, 60)], x_files_factor=0.0
    )
    s.update_many(
        [(NOW - 60, 1.5), (NOW - 180, 3.5)], now=NOW, metric="web.cpu"
    )
    base = [
        "render", s.path, "web.cpu",
        "--from", str(NOW - 240), "--until", str(NOW), "--now", str(NOW),
    ]
    assert cli.main(base + ["--format", "csv"]) == 0
    csv_lines = [
        ln for ln in capsys.readouterr().out.splitlines() if ln
    ]
    assert all(ln.startswith("web.cpu,") for ln in csv_lines)
    assert any(ln.endswith(",1.5") for ln in csv_lines)
    assert any(ln.endswith(",") for ln in csv_lines)  # gap -> empty cell

    assert cli.main(base + ["--format", "raw"]) == 0
    raw = capsys.readouterr().out.strip()
    head, body = raw.split("|")
    m, lo, hi, step = head.rsplit(",", 3)
    assert m == "web.cpu" and step == "60"
    vals = body.split(",")
    assert (int(hi) - int(lo)) // 60 == len(vals)
    assert "1.5" in vals and "3.5" in vals and "None" in vals


def test_eval_moving_functions_xfilesfactor(spark):
    rows = [("m", 0, 1.0), ("m", 60, None), ("m", 120, None),
            ("m", 180, 4.0), ("m", 240, 5.0)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    # window 3, xff 0.6: need >= 1.8 known of the 3-slot budget
    out = {v[1]: v[2] for v in _vals(
        evaluate_target(df, "movingAverage(m, 3, 0.6)"))}
    # ts=0: trailing window holds 1 known value of the 3-slot budget
    # -> gated (graphite counts against windowSize, not rows present)
    assert out[0] is None
    assert out[120] is None       # known count 1 < 2
    assert out[240] == 4.5        # [None, 4, 5] -> 2 known >= 2
    msum = {v[1]: v[2] for v in _vals(
        evaluate_target(df, "movingWindow(m, 3, 'sum', 0.6)"))}
    assert msum[240] == 9.0 and msum[120] is None


def test_review_fixes_round4c(spark):
    # transformNull 3-arg gates on reference NON-NULL (graphite-web's
    # any(v is not None)): a reference slot of exactly 0.0 enables fill
    rows = [("a.m", 0, None), ("a.m", 60, None), ("a.m", 120, None),
            ("ref.m", 0, 0.0), ("ref.m", 60, 2.0), ("ref.m", 120, None)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    got = {r.ts: r.value for r in
           evaluate_target(df, "transformNull(a.m, -1, ref.m)").collect()}
    assert got[0] == -1.0      # ref 0.0 is non-null -> fill (graphite)
    assert got[60] == -1.0
    assert got[120] is None    # ref null -> no fill
    # verticalLine accepts absolute at-style times; relative forms raise
    v = evaluate_target(df, "verticalLine('17:00_20231114', 'x')").collect()
    assert v[0].ts == 1700000000 - 1700000000 % 86400 + 17 * 3600
    with pytest.raises(TargetSyntaxError):
        evaluate_target(df, "verticalLine('now-1h')")
    # reduceSeries 'sumSeries': an all-null slot stays None
    rows2 = [("s.a.used", 0, None), ("s.a.free", 0, None),
             ("s.a.used", 60, 1.0), ("s.a.free", 60, None)]
    df2 = spark.createDataFrame(rows2, "metric string, ts long, value double")
    out = {r.ts: r.value for r in evaluate_target(
        df2,
        "reduceSeries(mapSeries(s.*.*, 1), 'sumSeries', 2, 'used', 'free')",
    ).collect()}
    assert out[0] is None and out[60] == 1.0


def test_cli_render_raw_consolidated_step(spark, tmp_path, capsys):
    """finding: raw format must declare the COARSENED step after
    --max-datapoints consolidation, not the fetch step."""
    s = WhisperStore.create(
        spark, str(tmp_path / "rawdb"), [(60, 60)], x_files_factor=0.0
    )
    s.update_many(
        [(NOW - 60 * i, float(i)) for i in range(1, 13)], now=NOW, metric="m"
    )
    assert (
        cli.main(
            [
                "render", s.path, "m",
                "--from", str(NOW - 720), "--until", str(NOW),
                "--now", str(NOW), "--format", "raw",
                "--max-datapoints", "4",
            ]
        )
        == 0
    )
    raw = capsys.readouterr().out.strip()
    head, body = raw.split("|")
    _m, lo, hi, step = head.rsplit(",", 3)
    assert int(step) > 60                   # coarsened, not the fetch step
    vals = body.split(",")
    assert len(vals) <= 5                   # budget honored, no None padding
    assert (int(hi) - int(lo)) // int(step) == len(vals)


def test_alias_query_batched_lookups(spark, monkeypatch):
    """Plain-path aliasQuery targets batch into ONE max_by aggregation:
    the per-name .first() fallback must never fire (round-5 review fix —
    previously one Spark job per matched series)."""
    # pyspark 4 runtime frames are the classic subclass; patch there
    from pyspark.sql.classic.dataframe import DataFrame

    rows = []
    for i in range(50):
        rows += [(f"a.{i}", 0, 1.0), (f"a.{i}", 60, 2.0),
                 (f"b.{i}", 0, float(i)), (f"b.{i}", 60, 100.0 + i)]
    df = spark.createDataFrame(rows, "metric string, ts long, value double")
    calls = {"first": 0}
    orig_first = DataFrame.first

    def spy(self, *a, **k):
        calls["first"] += 1
        return orig_first(self, *a, **k)

    monkeypatch.setattr(DataFrame, "first", spy)
    out = evaluate_target(df, "aliasQuery(a.*, 'a', 'b', 'last %d')")
    got = {r.metric for r in out.collect()}
    assert got == {f"last {100 + i}" for i in range(50)}
    assert calls["first"] == 0, "plain targets must use the batched path"
    # a function-shaped target still works via the per-target fallback
    out2 = evaluate_target(
        df.filter(F.col("metric").isin("a.1", "b.1", "b.2")),
        "aliasQuery(a.*, 'a.1', 'sumSeries(b.*)', 'x %g')",
    )
    assert {r.metric for r in out2.collect()} == {"x 203"}
    assert calls["first"] == 1


def test_per_series_render_functions_guarded(spark):
    """A glob matching 10k series errors fast with a clear message
    instead of launching 10k driver-side sub-evaluations."""
    import time

    from whisper_spark.render import MAX_QUERY_SERIES

    many = spark.range(10_000).select(
        F.concat(F.lit("m."), F.col("id")).alias("metric"),
        F.lit(0).cast("long").alias("ts"),
        F.lit(1.0).alias("value"),
    )
    t0 = time.time()
    with pytest.raises(TargetSyntaxError, match=f"over {MAX_QUERY_SERIES} series"):
        evaluate_target(many, "aliasQuery(m.*, 'm', 'm', 'x %d')")
    with pytest.raises(TargetSyntaxError, match="node prefixes"):
        evaluate_target(many, "applyByNode(m.*, 1, 'scale(%, 1)')")
    assert time.time() - t0 < 60, "guards must fail fast (limit N+1 scan)"


def test_pie_reducers_and_round_alias(spark, frame):
    """graphite pie-mode reducers collapse each series to ONE scalar
    (labeled at the series' last ts, keeping the frame contract);
    roundFunction is the pre-1.1 alias of round."""
    out = _vals(evaluate_target(frame, "pieAverage(ev.*.m1)"))
    assert out == [
        ("ev.click.m1", 120, (1.0 + 2.0 + 4.0) / 3),
        ("ev.error.m1", 0, 0.5),
        ("ev.view.m1", 60, 15.0),
    ]
    out = _vals(evaluate_target(frame, "pieMaximum(ev.click.m1)"))
    assert out == [("ev.click.m1", 120, 4.0)]
    out = _vals(evaluate_target(frame, "pieMinimum(ev.view.m1)"))
    assert out == [("ev.view.m1", 60, 10.0)]
    legacy = _vals(evaluate_target(frame, "roundFunction(ev.error.m1)"))
    modern = _vals(evaluate_target(frame, "round(ev.error.m1)"))
    assert legacy == modern == [("ev.error.m1", 0, 0.0)]
