"""Self-tests for the benchmark (not part of the repository's tier-1
suite). Run from the repository root:

    python -m pytest perfbench/test_perfbench.py -q

The end-to-end cases start one Spark process each on a tiny scale, so
the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import percentile, result_hash  # noqa: E402
from datagen import generate, make_tables  # noqa: E402
from cdc_stream import _Replay  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402


def test_inputs_depend_only_on_seed(tmp_path):
    a = generate(str(tmp_path / "a"), 7, 0.001, 2)
    b = generate(str(tmp_path / "b"), 7, 0.001, 2)
    c = generate(str(tmp_path / "c"), 8, 0.001, 2)
    assert all(a[t].equals(b[t]) for t in a)
    # another seed orders the rows differently; the content is the same
    assert not a["orders"].equals(c["orders"])
    assert a["orders"].sort_by("o_orderkey").equals(
        c["orders"].sort_by("o_orderkey")
    )
    assert make_tables(1, 0.001)["orders"].equals(make_tables(1, 0.001)["orders"])


def test_result_hash_ignores_order_and_catches_one_row():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.0, None]})
    shuffled = df.iloc[[2, 0, 1]][["v", "k"]]
    assert result_hash(df) == result_hash(shuffled)
    assert result_hash(df) != result_hash(df.iloc[1:])
    altered = df.copy()
    altered.loc[0, "v"] = 0.25
    assert result_hash(df) != result_hash(altered)


def test_tail_percentile_is_nearest_rank():
    values = list(range(12))
    # etl_driver's 12 jobs: p75 is rank 9, with 3 samples beyond it
    assert percentile(values, 75) == 8
    assert sum(v > percentile(values, 75) for v in values) == 3
    assert percentile([3.0, 1.0, 2.0], 100) == 3.0


def test_replay_merge_and_watermark_semantics():
    import pyarrow as pa

    t = pa.table({"o_orderkey": [1, 2, 3], "x": [10, 20, 30], "y": [0, 0, 0],
                  "o_totalprice": [1.0, 2.0, 3.0]})
    r = _Replay(t.select(["o_orderkey", "x", "y", "o_totalprice"]))
    r.append_above_watermark([(2, 0, 0, 9.0), (4, 0, 0, 4.0)])
    assert sorted(r.rows) == [1, 2, 3, 4] and r.rows[2][3] == 2.0
    r.merge([(1, 0, 0, 7.0), (3, 0, 0, 0.0), (5, 0, 0, 5.0)], [False, True, False])
    assert sorted(r.rows) == [1, 2, 4, 5] and r.rows[1][3] == 7.0


def test_benchmark_json_matches_metric_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(PER_LAYER)


def _run(workload: str, scale: float, fault: bool) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "5", "--seconds", "1",
        "--trace", "0", "--scale", str(scale),
    ] + (["--inject-fault"] if fault else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,scale",
    [("etl_driver", 0.001), ("curation_heavy", 0.001)],
)
def test_verification_passes_then_catches_one_corrupted_row(workload, scale):
    clean = _run(workload, scale, fault=False)
    assert clean["correct"] and clean["failed"] == 0 and clean["attempted"] > 1
    assert set(clean["metrics"]) == set(END_TO_END)
    faulty = _run(workload, scale, fault=True)
    assert not faulty["correct"]
    assert faulty["failed"] == 1
    assert faulty["attempted"] == clean["attempted"]
