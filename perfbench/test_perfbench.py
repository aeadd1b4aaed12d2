"""The benchmark's own fast tests: generator parity with the engine's
mock transports, the result checks catching a wrong answer, and a
tiny-data run of every workload in both modes asserting the output
format (metric names and units from BENCHMARK.json).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import datagen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("lo,hi", [(0, 40), (199_990, 200_010)])
def test_generated_rows_equal_mock_transport_rows(lo, hi):
    assert datagen.mock_rows_match(lo, hi) == []


def test_corpus_is_seeded_and_sized(tmp_path):
    import pyarrow.parquet as pq

    datagen.write_corpus(str(tmp_path / "a"), 5)
    datagen.write_corpus(str(tmp_path / "b"), 5)
    datagen.write_corpus(str(tmp_path / "c"), 6)
    docs = {k: pq.read_table(tmp_path / k / "documents.parquet") for k in "abc"}
    assert docs["a"].equals(docs["b"])
    assert not docs["a"].equals(docs["c"])
    assert docs["a"].num_rows == docs["c"].num_rows == 500


def _read(ticket, table):
    return workloads.Read(dict(ticket, benchId=0), 0.0, 0.0, 0.0, table.to_batches())


def test_ticket_check_flags_a_wrong_result(tmp_path):
    wl = workloads.Tickets(1, str(tmp_path), scale=0.1)
    ticket = {"dataset": "logs", "startBlock": 100, "endBlock": 199,
              "contractAddresses": ["0xA3"], "topics": [datagen.TRANSFER]}
    rows = wl.logs.slice(200, 200)
    right = rows.filter(pa.compute.and_(
        pa.compute.equal(rows["address"], "0xa3"),
        pa.compute.equal(pa.compute.list_element(rows["topics"], 0), datagen.TRANSFER)))
    assert right.num_rows > 0
    assert wl._check([_read(ticket, right)]) == []
    assert len(wl._check([_read(ticket, right.slice(1))])) == 1


class _FakeSub:
    def __init__(self, keys):
        self.error = None
        self._keys = keys

    def keys(self):
        return self._keys


def test_live_check_flags_gap_duplicate_and_order(tmp_path):
    wl = workloads.Live(2, str(tmp_path), scale=0.1)
    start, end = wl.n_blocks - 5, wl.n_blocks + 20
    want = [(b, i) for b in range(start, end) for i in range(2)
            if (datagen.TRANSFER if (2 * b + i) % 2 == 0 else datagen.APPROVAL) == wl.topic]
    pages = [{"hi": wl.n_blocks + 10}, {"hi": end}]

    def check(keys):
        return wl._check({"sub": _FakeSub(keys), "start": start, "pages": pages,
                          "scheduled": len(pages)})[1]

    assert check(want) == []
    seam = want.index(next(k for k in want if k[0] == wl.n_blocks))
    assert check(want[:seam] + want[seam + 1:])                       # gap at the seam
    assert check(want[:seam + 1] + want[seam:])                       # duplicate at the seam
    assert check(want[:seam - 1] + [want[seam], want[seam - 1]] + want[seam + 1:])  # order
    short = {"sub": _FakeSub(want), "start": start, "pages": pages, "scheduled": 3}
    assert wl._check(short)[1]                                        # a page never ingested


def _run(workload, trace, cwd):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "10", "--trace", str(trace), "--scale", "0.2"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_prints_the_result_format(workload, trace, tmp_path):
    result, stdout = _run(workload, trace, tmp_path)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, stdout
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        s["name"]: s["unit"] for s in spec}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values()), result
    assert "box:" in stdout
    assert not os.listdir(tmp_path), "run left files behind"


def test_refuses_to_run_without_the_engine(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name)) as src, open(tmp_path / "perfbench" / name, "w") as dst:
                dst.write(src.read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tickets", "--seed", "1",
         "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True,
        timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
