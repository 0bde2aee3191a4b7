"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, ledger, procrss, run, tracing  # noqa: E402
from perfbench.workloads import SPECS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    b = _bench_json()
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in b["per_layer"]}
    assert e2e == dict(run.END_TO_END)
    assert list(layer) == ledger.per_layer_names()
    assert all(layer[n] == ledger.unit(n) for n in layer)
    assert [w["name"] for w in b["workloads"]] == list(SPECS)
    for name in [*e2e, *layer, *(w["name"] for w in b["workloads"])]:
        assert NAME.match(name), name
    assert len(set(e2e) | set(layer)) == len(e2e) + len(layer)


@pytest.mark.parametrize("make", [inputs.webpages, inputs.cdx])
def test_seed_fixes_input(tmp_path, make):
    digests = []
    for k, seed in enumerate([5, 5, 6]):
        path = inputs.write_input(make(3_000, seed), str(tmp_path / str(k)), 2)
        digests.append(inputs.file_digest(path))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_same_seed_same_encoded_bytes(tmp_path):
    """Two encodes of one seed's input give the same page table (and so the
    same bytes_ratio); another seed gives another input."""
    from dataclasses import replace

    from perfbench import session
    from perfbench.workloads import Workload

    session.prepare_env(ROOT, str(tmp_path))
    spec = replace(SPECS["crawl_zstd"], rows=2_000)
    session.launch_jvm()
    spark = session.start()
    try:
        ratios, digests = [], []
        for seed in (3, 3, 4):
            wl = Workload(spec, seed, str(tmp_path / f"w{len(ratios)}"))
            wl.write_inputs()
            wl.build_references()
            wl.run_encode(spark, tracing.Recorder(active=lambda: False))
            assert wl.check_encode(None)
            ratios.append(wl.encoded_bytes / wl.raw_bytes)
            digests.append((wl.input_digest, wl.page_digest))
    finally:
        spark.stop()
        session.shutdown()
    assert ratios[0] == ratios[1] and digests[0] == digests[1]
    assert digests[0][0] != digests[2][0]


def test_rss_sees_python_children():
    code = "import time; b = bytearray(50 << 20); time.sleep(30)"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        deadline = time.time() + 10
        while procrss.python_descendants_rss(os.getpid()) < (50 << 20) and time.time() < deadline:
            time.sleep(0.1)
        assert procrss.python_descendants_rss(os.getpid()) >= 50 << 20
    finally:
        child.kill()
        child.wait(timeout=10)


def test_self_time_subtracts_children():
    rec = tracing.Recorder(active=lambda: True)
    inner = rec.wrap("kernels.delta.encode", lambda x: time.sleep(0.02) or b"xy")
    outer = rec.wrap("pages.encode", lambda x: (time.sleep(0.01), inner(x))[1] and [])
    with rec.span("task"):
        outer(b"abcd")
    batch = rec.spans
    assert [s[1] for s in batch] == ["task", "pages.encode", "kernels.delta.encode"]
    selfs = {s[1]: t for s, t, _ in ledger._self_times(batch)}
    assert 0.02 <= selfs["kernels.delta.encode"] < 0.05
    assert 0.01 <= selfs["pages.encode"] < 0.02
    assert batch[2][5] == 4 and batch[2][6] == 2  # bytes in, bytes out
