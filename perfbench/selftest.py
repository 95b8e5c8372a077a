#!/usr/bin/env python3
"""Self-tests of the benchmark itself (no Spark session needed):

    python3 perfbench/selftest.py

* the same seed gives byte-identical input files, another seed different ones;
* every metric name is ``[A-Za-z0-9_.-]+`` and ``BENCHMARK.json`` lists
  exactly the metrics the code reports;
* an output with one dropped row fails its check and is counted as a
  failed iteration.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
END_TO_END = ("wall_s", "driver_peak_rss_mb", "setup_s")


def test_seeded_inputs(tmp: str) -> None:
    def pages(seed, name):
        groups, _ = inputs.pipeline_groups(seed, 600)
        inputs.write_pages(groups, os.path.join(tmp, name))
        return inputs.file_digest(os.path.join(tmp, name))

    def tables(seed, name):
        inputs.write_operator_tables(inputs.operator_tables(seed, scale=0.2), os.path.join(tmp, name))
        return inputs.file_digest(os.path.join(tmp, name))

    assert pages(3, "p3a") == pages(3, "p3b"), "same seed, different pages"
    assert pages(3, "p3a") != pages(4, "p4"), "different seeds, same pages"
    assert tables(3, "t3a") == tables(3, "t3b"), "same seed, different tables"
    assert tables(3, "t3a") != tables(4, "t4"), "different seeds, same tables"


def test_metric_names() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    per_layer = workloads.per_layer_names()
    for name in list(END_TO_END) + per_layer:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert len(set(per_layer)) == len(per_layer), "duplicate per-layer name"
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == per_layer
    units = workloads.per_layer_units()
    assert all(m["unit"] == units[m["name"]] for m in spec["per_layer"])
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


class _Dropped:
    """A workload whose every output misses one row of the expected set."""

    def __init__(self, want, drop):
        self.want, self.drop = want, drop

    def run_once(self):
        return 0.01, self.drop(self.want)

    def check(self, out):
        return not checks.diff_tables(out, self.want)

    def after_iteration(self):
        pass


def test_dropped_row_fails() -> None:
    groups, _ = inputs.pipeline_groups(5, 600)
    want = checks.oracle_tables(groups)
    for table in checks.PIPELINE_TABLES:
        wl = _Dropped(want, lambda w, t=table: {**w, t: w[t][:-1]})
        walls, attempted, failed = workloads.closed_loop(wl, 0.0, float("inf"))
        assert (attempted, failed, walls) == (1, 1, []), table
    # unchanged output passes
    walls, attempted, failed = workloads.closed_loop(_Dropped(want, dict), 0.0, float("inf"))
    assert (attempted, failed, len(walls)) == (1, 0, 1)

    from collections import namedtuple

    tiles = checks.tile_expected(want)
    V = namedtuple("V", "error_class n")
    A = namedtuple("A", "table feature_id")
    validation = [V(c, n) for c, n in tiles["classes"].items()]
    assignment = [A(*f) for f in sorted(tiles["features"], key=str)]
    assert checks.tile_diff(validation, assignment, tiles) == []
    short = [V(validation[0].error_class, validation[0].n - 1)] + validation[1:]
    assert checks.tile_diff(short, assignment, tiles) == ["tile_validation"]
    assert checks.tile_diff(validation, assignment[:-1], tiles) == ["tile_assignment"]

    import pyarrow as pa

    t = pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    assert checks.arrow_digest(t) != checks.arrow_digest(t.slice(0, 2))
    assert checks.arrow_digest(t) == checks.arrow_digest(t.take([2, 0, 1]))

    texts = ["a b c d", "a b c d", "e f g h"]
    pairs = pa.table({"a": [0], "b": [1], "jaccard": [1.0]})
    assert checks.check_minhash(pairs, texts, 0.5)
    assert not checks.check_minhash(pairs.slice(0, 0), texts, 0.5)


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        tests = [lambda: test_seeded_inputs(tmp), test_metric_names, test_dropped_row_fails]
        names = ["seeded_inputs", "metric_names", "dropped_row_fails"]
        failed = 0
        for name, test in zip(names, tests):
            try:
                test()
                print(f"ok    {name}")
            except AssertionError as e:
                failed += 1
                print(f"FAIL  {name}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
