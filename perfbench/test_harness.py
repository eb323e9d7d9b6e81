"""Tests of the benchmark harness itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
from collections import Counter

import numpy as np
import pytest

import gen
import run
from measure import percentile, samples_beyond, self_times
from workloads import compare, is_sub_multiset, norm

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_percentile_matches_numpy_linear():
    rng = random.Random(7)
    for n in (1, 2, 3, 10, 57):
        xs = [rng.uniform(0, 10) for _ in range(n)]
        for q in (0.0, 0.25, 0.5, 0.9, 1.0):
            assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q * 100)))


def test_percentile_small_samples_exact():
    assert percentile([3.0], 0.9) == 3.0
    assert percentile([1.0, 3.0], 0.5) == 2.0
    assert percentile([4.0, 1.0, 2.0, 3.0], 0.5) == 2.5
    with pytest.raises(ValueError):
        percentile([], 0.5)
    with pytest.raises(ValueError):
        percentile([1.0], 1.5)


def test_samples_beyond():
    assert samples_beyond(100, 0.9) == 10    # the p90 has ten samples above it
    assert samples_beyond(99, 0.9) == 10
    assert samples_beyond(30, 0.9) == 3
    assert samples_beyond(10, 0.5) == 5
    assert samples_beyond(1, 0.5) == 0
    assert samples_beyond(0, 0.5) == 0


def test_self_times_from_prefix_spans():
    spans = [("scan", 1.0), ("flags", 1.5), ("select", 1.75), ("diff", 3.0)]
    assert self_times(spans) == {"scan": 1.0, "flags": 0.5, "select": 0.25, "diff": 1.25}
    assert sum(self_times(spans).values()) == spans[-1][1]
    assert self_times([]) == {}


def test_benchmark_json_matches_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert set(w["name"] for w in spec["workloads"]) <= set(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    names = [w["name"] for w in spec["workloads"]] + [
        m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower") if "better" in m else True
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_compare_is_order_insensitive_and_catches_a_planted_mismatch():
    cols = ["b", "a"]
    rows = [(1.5, "x"), (None, "y"), (2.0, "z")]
    oracle_cols = ["a", "b"]
    oracle = [("z", 2.0), ("x", 1.5), ("y", None)]
    assert compare(cols, rows, oracle_cols, oracle) is None
    assert compare(cols, rows, oracle_cols, oracle[1:]) == "rows 3 != 2"
    planted = [("z", 2.0), ("x", 1.5), ("y", 0.0)]
    assert compare(cols, rows, oracle_cols, planted) == "1 differing rows"
    assert compare(["a", "c"], rows, oracle_cols, oracle).startswith("columns")


def test_norm_nested_and_null():
    assert norm(float("nan")) == norm(None) == "<null>"
    assert norm([1, {"b": 2.0, "a": None}]) == "[1,{a:<null>,b:2.0}]"


def test_sub_multiset():
    whole = Counter(["r1", "r1", "r2"])
    assert is_sub_multiset(["r1", "r1"], whole)
    assert not is_sub_multiset(["r1", "r1", "r1"], whole)
    assert not is_sub_multiset(["r3"], whole)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_tables_are_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    gen.make_tables(a, 0.001, 5)
    gen.make_tables(b, 0.001, 5)
    gen.make_tables(c, 0.001, 6)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_archive_inputs_are_a_function_of_the_seed():
    o1, o2 = gen.observations(3), gen.observations(3)
    assert o1 == o2
    assert gen.long_frame(o1[0], 3).equals(gen.long_frame(o2[0], 3))
    other = gen.observations(4)
    rfi = lambda obs: [(o.rfi_chan, o.rfi_cadence, o.rfi_phase, o.rfi_amp) for o in obs]
    assert rfi(o1) != rfi(other)


def test_every_seed_flags_the_same_number_of_cells():
    for seed in range(20):
        obs = gen.observations(seed)
        assert len(obs) == gen.N_OBS
        assert sum(o.n_times for o in obs) == gen.TOTAL_TIMES
        assert all(gen.N_TIMES_RANGE[0] <= o.n_times <= gen.N_TIMES_RANGE[1] for o in obs)


def test_cube_values_are_dyadic():
    o = gen.observations(1)[0]
    re_, im_ = gen.cube(o, 1)
    assert np.array_equal(re_ * 32, np.round(re_ * 32))
    assert np.array_equal(im_ * 32, np.round(im_ * 32))


def test_reference_finds_the_planted_rfi():
    o = gen.observations(1)[0]
    ref = gen.ssins_reference(o, 1, {10})
    n_cells, narrow, streak, tb, mf = ref["xx"]
    assert n_cells == (o.n_times - 1) * gen.N_CHANS
    assert streak >= 2 * gen.N_CHANS          # the broadband burst and its diff partner
    assert narrow > 0 and tb > 0 and mf >= max(narrow, streak, tb)


def test_workload_order_is_a_function_of_the_seed():
    from workloads import ROSTER

    assert random.Random(9).sample(ROSTER, len(ROSTER)) == random.Random(9).sample(
        ROSTER, len(ROSTER))
    assert random.Random(9).sample(ROSTER, len(ROSTER)) != random.Random(10).sample(
        ROSTER, len(ROSTER))


def _entry(group, construct, action):
    return {"group": group, "construct": construct, "action": action,
            "wall": construct + action, "construct_jobs": 1}


def test_choose_takes_one_entry_per_latency_stratum_and_every_module():
    from survey import choose

    entries = {f"e{i:02d}": _entry("a" if i % 3 else "b", 0.1 * i, 0.1 * i + 0.05)
               for i in range(1, 13)}
    entries["e13"] = _entry("c", 1.0, 0.01)   # the slowest, and a module of its own
    picks = choose(entries, 4)
    ranked = sorted(entries, key=lambda n: entries[n]["wall"])
    strata = [ranked[13 * i // 4: 13 * (i + 1) // 4] for i in range(4)]
    assert [sum(p in s for p in picks) for s in strata] == [1, 1, 1, 1]
    assert {entries[p]["group"] for p in picks} == {"a", "b", "c"}
    assert choose(entries, 4) == picks              # deterministic
