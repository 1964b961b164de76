"""Tests of the benchmark harness's own logic (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import gen  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def span(name, layer, start, end, parent=None, jobs=(), tasks=0):
    s = spans.Span(name, layer, start, "r", parent, name, end=end)
    s.job_ids = list(jobs)
    s.spark = dict(spans.empty_metrics(), jobs=len(jobs), tasks=tasks)
    return s


# -- digests ----------------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    df = pd.DataFrame({"a": [3, 1, 2], "b": [0.1, 0.25, 1 / 3], "c": list("xyz")})
    shuffled = df.sample(frac=1.0, random_state=7)[["c", "a", "b"]]
    assert oracles.digest(df) == oracles.digest(shuffled)
    assert oracles.digest(df) == oracles.digest(df.iloc[::-1])


def test_digest_sees_every_value_bit():
    df = pd.DataFrame({"a": [1, 2], "b": [0.5, 0.25]})
    other = df.assign(b=[0.5, np.nextafter(0.25, 1.0)])
    assert oracles.digest(df) != oracles.digest(other)
    assert oracles.digest(df) != oracles.digest(df.iloc[:1])


# -- span arithmetic --------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    s = [
        span("root", "workload", 0.0, 10.0),
        span("a", "operators.stats", 1.0, 4.0, parent=0),
        span("b", "operators.stats", 3.0, 6.0, parent=0),  # overlaps a
        span("c", "operators.stats", 1.5, 2.0, parent=1),
    ]
    assert spans.self_times(s) == pytest.approx([5.0, 2.5, 3.0, 0.5])


def test_layer_totals_count_nested_same_layer_calls_once():
    s = [
        span("root", "workload", 0.0, 10.0),
        span("volcano", "operators.stats", 1.0, 5.0, parent=0, jobs=[1]),
        span("ttest", "operators.stats", 2.0, 3.0, parent=1, jobs=[2, 3]),
        span("median", "operators.normalization", 3.5, 4.5, parent=1),
        span("anova", "operators.stats", 6.0, 7.0, parent=0),
    ]
    t = spans.layer_totals(s)
    assert t["operators.stats"]["call_s"] == pytest.approx(5.0)
    assert t["operators.stats"]["self_s"] == pytest.approx(2.0 + 1.0 + 1.0)
    assert t["operators.stats"]["spark"]["jobs"] == 3
    assert t["operators.normalization"]["call_s"] == pytest.approx(1.0)
    assert sum(v["self_s"] for v in t.values()) == pytest.approx(10.0)


def test_boundary_spans_are_user_calls():
    s = [
        span("root", "workload", 0.0, 10.0),
        span("phospho_lfq", "pipelines", 0.0, 5.0, parent=0),
        span("read_maxquant", "sources", 0.0, 1.0, parent=1),
        span("infer", "sources", 0.1, 0.2, parent=2),
        span("write_perseus", "sources", 5.0, 9.0, parent=0),
    ]
    assert spans.boundary_spans(s) == [1, 2, 4]


def test_prefix_parent_is_latest_call_whose_output_feeds_the_input():
    outputs = [[{"1"}], [{"2"}, {"5"}], [{"1"}], [{"3"}], [{"6"}]]
    inputs = [
        [],                      # a fresh read
        [{"9"}],                 # not derived from an earlier call
        [{"1", "2"}],            # extends call 1, the latest match
        [{"1", "4"}],            # extends call 2, not the older call 0
        [{"2", "7"}, {"3"}],     # first input decides: call 1, not 3
    ]
    assert spans.prefix_parents(outputs, inputs) == [None, None, 1, 2, 1]


def test_prefix_marginals_subtract_parent_prefix():
    m = spans.empty_metrics()
    forced = [
        (2.0, dict(m, tasks=4)),
        (5.0, dict(m, tasks=10)),
        (1.0, dict(m, tasks=1)),
        (6.5, dict(m, tasks=13)),
    ]
    out = spans.prefix_marginals(forced, [None, 0, None, 1])
    assert [round(s, 9) for s, _ in out] == [2.0, 3.0, 1.0, 1.5]
    assert [met["tasks"] for _, met in out] == [4, 6, 1, 3]


def test_job_id_gap_fails_the_run():
    ok = [span("a", "x", 0, 1, jobs=[4, 5]), span("b", "x", 1, 2, jobs=[6])]
    spans.check_job_ids(ok)
    gap = [span("a", "x", 0, 1, jobs=[4]), span("b", "x", 1, 2, jobs=[6])]
    with pytest.raises(spans.MissingJobError):
        spans.check_job_ids(gap)


# -- oracles ----------------------------------------------------------------


def test_components_label_with_minimum_member():
    assert oracles.components(6, [(4, 1), (1, 3), (5, 2)]).tolist() == [
        0, 1, 2, 1, 1, 2
    ]


def test_pca_components_match_up_to_sign_only():
    rng = np.random.default_rng(0)
    imputed = pd.DataFrame(
        [(f, s, float(rng.normal())) for f in range(30) for s in "abcdef"],
        columns=["feature_id", "sample_label", "value"],
    )
    pca = oracles.pca_expected(imputed, 2)
    want = pca["scores"]
    long = pd.DataFrame(
        [(s, c + 1, -want[i, c] if c else want[i, c])
         for i, s in enumerate(pca["samples"]) for c in range(2)],
        columns=["sample_label", "pc", "score"],
    ).sample(frac=1.0, random_state=1)
    got = oracles.long_to_matrix(long, "sample_label", "pc", "score",
                                 pca["samples"], 2)
    assert oracles.components_match(got, want)
    bad = got.copy()
    bad[0, 1] += 1e-3 * np.abs(want[:, 1]).max()
    assert not oracles.components_match(bad, want)
    assert oracles.long_to_matrix(long.iloc[1:], "sample_label", "pc",
                                  "score", pca["samples"], 2) is None
    assert 0.0 < pca["evr"][1] <= pca["evr"][0] and pca["evr"].sum() <= 1.0


# -- generators -------------------------------------------------------------


def test_corpus_deterministic_per_seed_with_planted_pairs():
    d1, e1, p1 = gen.make_corpus(200, 5)
    d2, e2, p2 = gen.make_corpus(200, 5)
    pd.testing.assert_frame_equal(d1, d2)
    assert p1 == p2 and len(p1) == 20
    np.testing.assert_array_equal(np.stack(e1["vec"]), np.stack(e2["vec"]))
    d3, _, p3 = gen.make_corpus(200, 6)
    assert not d3["text"].equals(d1["text"]) and p3 != p1
    sets = oracles.shingle_sets(d1["text"].tolist())
    for src, dup in p1:
        jac = len(sets[src] & sets[dup]) / len(sets[src] | sets[dup])
        assert jac >= 0.7
        assert d1["block"][src] == d1["block"][dup]


def test_lfq_inputs_deterministic_per_seed(tmp_path):
    def files(seed, sub):
        inp = gen.write_lfq_inputs(str(tmp_path / sub), 100, seed)
        return [open(inp[k], "rb").read() for k in ("sites", "design")]

    assert files(1, "a") == files(1, "b")
    assert files(1, "a")[0] != files(2, "c")[0]


# -- the benchmark definition -----------------------------------------------


def test_benchmark_json_names_what_the_harness_reports():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["per_layer"]] == run.per_layer_names()
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
