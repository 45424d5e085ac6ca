"""Self-tests of the benchmark: generator determinism, ground truth against
an independent pyarrow computation, and names against BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workload as wl  # noqa: E402
from spans import covered  # noqa: E402


@pytest.mark.parametrize("layout,drift", [("clustered", 40), ("uniform", 200)])
def test_same_seed_same_truth(layout, drift):
    a_src, a_dst, a = gen.build(3, 5_000, layout, drift)
    b_src, b_dst, b = gen.build(3, 5_000, layout, drift)
    for name in a.__dataclass_fields__:
        assert np.array_equal(getattr(a, name), getattr(b, name)), name
    assert a_src.equals(b_src) and a_dst.equals(b_dst)
    _, _, c = gen.build(4, 5_000, layout, drift)
    assert not np.array_equal(a.drift_ids, c.drift_ids)


@pytest.mark.parametrize("layout,drift", [("clustered", 40), ("uniform", 200)])
def test_truth_matches_pyarrow(layout, drift):
    src, dst, truth = gen.build(5, 4_000, layout, drift)
    j = src.join(dst, keys="key", join_type="full outer", left_suffix="_s", right_suffix="_d")
    status = pc.if_else(
        pc.is_null(j["value_d"]), "only_src",
        pc.if_else(pc.is_null(j["value_s"]), "only_dst",
                   pc.if_else(pc.equal(j["value_s"], j["value_d"]), "equal", "changed")),
    )
    want = {
        gen.id_of(k): s
        for k, s in zip(j["key"].to_pylist(), status.to_pylist())
        if s != "equal"
    }
    assert truth.findings() == want
    assert len(want) == drift
    assert set(want.values()) == set(gen.STATUSES)

    lo, hi = 1_000, 3_001
    for name, table in (("src", src), ("dst", dst)):
        ids = np.array([gen.id_of(k) for k in table["key"].to_pylist()], dtype=np.uint64)
        assert np.array_equal(ids, np.sort(ids)), "keys must be written in order"
        keep = pa.array((ids >= lo) & (ids < hi))
        part = table.filter(keep)
        nbytes = pc.sum(pc.binary_length(part["key"])).as_py() + pc.sum(
            pc.binary_length(part["value"])
        ).as_py()
        assert truth.range_totals(name, lo, hi) == (part.num_rows, nbytes)
    assert truth.findings(lo, hi) == {i: s for i, s in want.items() if lo <= i < hi}


def test_values_in_bounds_and_keys_reference_shaped():
    src, dst, _ = gen.build(6, 2_000, "uniform", 100)
    for t in (src, dst):
        lens = pc.binary_length(t["value"])
        assert pc.min(lens).as_py() >= gen.VAL_MIN and pc.max(lens).as_py() <= gen.VAL_MAX
        keys = t["key"].to_pylist()
        assert all(len(k) == gen.KEY_LEN and k.startswith(gen.KEY_PREFIX) for k in keys)
    assert gen.key_of(258) == b"r\x00\x00\x00" + (258).to_bytes(8, "big")


def test_dump_reader(tmp_path):
    d = tmp_path / "dump"
    d.mkdir()
    lines = [f"key:{gen.key_of(i).hex().upper()}, value:ABCD, cnt:{n}.\n" for n, i in enumerate((4, 6, 8), 1)]
    (d / "part-00000.txt").write_text("".join(lines[:2]))
    (d / "part-00001.txt").write_text(lines[2])
    (d / "_SUCCESS").write_text("")
    ids, cnt = wl._read_dump(str(d))
    assert ids.tolist() == [4, 6, 8] and cnt.tolist() == [1, 2, 3]


def test_covered_is_union_length():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(1, 3), None], 2, 10) == 1
    assert covered([], 0, 1) == 0


def test_names_match_benchmark_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        s.name: s.why for s in wl.SPECS.values()
    }
    res = wl.Result(
        verdict_s=[1.0], findings_s=[1.0], request_s=[1.0], export_s=[1.0],
        reload_s=[1.0], pairs=1, busy_s=1.0, cycle_cpu_s=[1.0],
    )
    e2e = wl.end_to_end(res, [1.0], 1.0)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [(k, u) for k, (_, u) in e2e.items()]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(wl.PER_LAYER)
