"""Tests of the benchmark itself: generator determinism, the percentile
rules, and a small end-to-end run of every workload that checks the
printed metrics.

    python3 -m pytest benchmark/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
from measure import percentile, tail_percentile  # noqa: E402
from run import END_TO_END, PER_LAYER  # noqa: E402


def test_tpch_tables_repeat_per_seed():
    a, b, c = (gen.tpch_tables(s, 0.001) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000


def test_document_shards_repeat_per_seed():
    a, b = gen.document_shard(3, 1, 200), gen.document_shard(3, 1, 200)
    assert a.equals(b)
    assert not a.equals(gen.document_shard(3, 0, 200))
    assert not a.equals(gen.document_shard(4, 1, 200))
    texts = a.column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # exact duplicates were injected
    assert len(set(a.column("doc_id").to_pylist())) == 200


def _stream(seed):
    s = gen.IngestStream(seed, n_keys=300, rows_per_file=50)
    files = [s.next_file() for _ in range(4)]
    return s.initial(), files, s.checksum()


def test_ingest_stream_repeats_per_seed():
    assert _stream(9) == _stream(9)
    assert _stream(9)[1] != _stream(10)[1]


def test_ingest_stream_models_the_cdc_table():
    s = gen.IngestStream(2, n_keys=400, rows_per_file=100, bad_frac=0.2)
    live = set(s.expected)
    text, n = s.next_file()
    lines = text.splitlines()
    assert lines[0].split(",") == gen.CSV_COLUMNS and n == len(lines) - 1
    for line in lines[1:]:
        f = line.split(",")
        key, deleted = int(f[0]), f[-1] == "true"
        assert (key in s.expected) != deleted
        assert not deleted or key in live  # only live keys are deleted
        if not deleted:
            row = s.expected[key]
            assert row[-1] == int(f[-2])  # partition column
            assert (row[1] is None) == (f[1] == "unknown")  # uncastable lands NULL
            assert (row[14] is None) == (f[14] == "N/A")
    assert s.checksum()[0] == len(s.expected)


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0, 5.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(100) == 90
    assert tail_percentile(44) == 77
    assert tail_percentile(22) == 54
    assert tail_percentile(10) == 0
    assert tail_percentile(10_000) == 99
    for n in range(11, 500):
        p = tail_percentile(n)
        assert n * (1 - p / 100) >= 10 - 1e-9


@pytest.mark.parametrize(
    "workload,trace",
    [("ingest", 0), ("ingest", 1), ("analytics", 0), ("analytics", 1)],
)
def test_small_run_prints_every_metric(workload, trace):
    """A run at a tenth of the standard size (analytics over sf0.001):
    every op correct, and the last line names every metric of the mode
    with its unit."""
    proc = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=BENCH.parent, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = dict(PER_LAYER if trace else END_TO_END)
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        if not trace:
            assert m["value"] > 0, name


def test_fails_without_the_engine(tmp_path):
    """Outside a checkout of the engine the benchmark exits non-zero
    and prints no result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "benchmark",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
