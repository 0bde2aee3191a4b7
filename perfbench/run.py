#!/usr/bin/env python3
"""Benchmark of pq_engine's encode, decode and filtered-read paths.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_zstd --seed 1 --seconds 30 --trace 0

Closed loop: one client (this process) issues each operation after the
previous one returned, against Spark ``local[2]`` started through the
engine's ``get_spark``. Inputs are generated from ``--seed`` during set-up and
handed to the engine as parquet files; every operation's output is checked.
Everything the run writes stays under ``.perfbench/`` in the working
directory. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
(``--trace 0``) or the per-layer metrics of a traced run (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import zlib

import numpy as np

# Set-ups per run. The JVM is launched once; each set-up starts a
# SparkContext on it and writes the inputs, and setup_s is the JVM launch plus
# their median plus the warm-up round that follows on the last one (a cold
# round costs several warm ones, so it is not repeated per set-up).
SETUPS = 3
WARMUP_ROUNDS = 1
# File writes and reads per half round, back to back: they are short, so
# they need more samples than one a half. The first file read after the Spark
# ops of a half often faults its buffers in afresh and reads 1.5x slower.
FILE_WRITES = 2
FILE_READS = 3


# On a shared VM the host's speed drifts by 10-25 % over minutes (other
# guests on the same machine), and every op of a run moves with it: across
# ten crawl_zstd runs, the median wall of each op kind correlated at
# 0.76-0.99 with the median wall of the fixed probe below. Op timings are
# therefore scaled by PROBE_REF_S (the probe's typical wall on the 4-vCPU VM
# the benchmark was tuned on) / the run's median probe wall; the raw walls
# and probe walls are in the "# {...}" line.
PROBE_REF_S = 0.045
_PROBE_INTS = np.random.default_rng(0).integers(0, 1 << 40, 1_000_000)
_PROBE_BYTES = np.random.default_rng(1).integers(0, 16, 1 << 17, dtype=np.uint8).tobytes()


def host_probe() -> float:
    """Wall of a fixed piece of work that runs no engine code: a numpy sort
    (memory), a zlib compress and a Python loop (CPU)."""
    t0 = time.perf_counter()
    np.sort(_PROBE_INTS)
    zlib.compress(_PROBE_BYTES, 6)
    sum(i * i for i in range(250_000))
    return time.perf_counter() - t0


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Runner:
    """One benchmark run: set-ups, the closed loop, and its ledger."""

    def __init__(self, workload):
        from perfbench import tracing

        self.wl = workload
        self.rec = tracing.Recorder(active=lambda: self.rec.op is not None)
        self.spark = None
        self.seq = 0
        self.attempted = self.failed = 0
        self.rounds = 0  # rounds of the closed loop
        self.walls: dict[str, list[float]] = {}
        self.steals: dict[str, list[float]] = {}  # host steal seconds per op
        self.probes: list[float] = []  # host_probe walls of the loop
        self.warm_walls: dict[str, list[float]] = {}
        self.deferred: list[tuple[str, object, object]] = []
        self.windows: list[tuple[str, str, float, float]] = []
        self.jobs: dict[str, list[tuple[int, int, int]]] = {}
        self.track_jobs = False
        self.peak_rss = 0

    def op(self, kind: str, i: int = 0, record: bool = True) -> None:
        """Run one op (timed), then check its output (untimed)."""
        wl = self.wl
        run, check = {
            "encode": (wl.run_encode, wl.check_encode),
            "decode": (wl.run_decode, wl.check_decode),
            "read": (lambda s, r: wl.run_read(s, r, i), lambda o: wl.check_read(o, i)),
            "file_write": (wl.run_file_write, wl.check_file_write),
            "file_read": (wl.run_file_read, wl.check_file_read),
        }[kind]
        self.seq += 1
        op_id = f"{kind}-{self.seq}"
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(op_id, op_id)
        self.rec.op = op_id
        ok = True
        s0 = _steal_s()
        t0 = time.perf_counter()
        try:
            result = run(self.spark, self.rec)
        except Exception:
            traceback.print_exc()
            ok, result = False, None
        t1 = time.perf_counter()
        steal = _steal_s() - s0
        self.rec.op = None
        verdict = None
        if ok:
            try:
                verdict = check(result)
            except Exception:
                traceback.print_exc()
                verdict = False
        if verdict is None and ok:  # its reference is built after the warm-up
            self.deferred.append((op_id, check, result))
        else:
            self._count(op_id, bool(verdict))
        if record:
            from perfbench.procrss import python_descendants_rss

            self.peak_rss = max(self.peak_rss, python_descendants_rss(os.getpid()))
            self.walls.setdefault(kind, []).append(t1 - t0)
            self.steals.setdefault(kind, []).append(steal)
            self.probes.append(host_probe())
            self.windows.append((op_id, kind, t0, t1))
            if self.track_jobs:
                self.jobs.setdefault(kind, []).append(self._job_counts(op_id))
        else:
            self.warm_walls.setdefault(kind, []).append(t1 - t0)

    def _count(self, op_id: str, ok: bool) -> None:
        if not ok:
            print(f"perfbench: {op_id} produced a wrong result", file=sys.stderr)
        self.attempted += 1
        self.failed += not ok

    def settle(self) -> None:
        """Check the ops whose reference was not built when they ran."""
        for op_id, check, result in self.deferred:
            try:
                ok = check(result) is True
            except Exception:
                traceback.print_exc()
                ok = False
            self._count(op_id, ok)
        self.deferred = []

    def _job_counts(self, group: str) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numTasks if si else 0
        return len(jobs), stages, tasks

    def one_round(self, record: bool = True) -> None:
        """The unit of the warm-up, the loop and the trace: two halves of one
        encode, one decode, every other filtered read, ``FILE_WRITES`` file
        writes and ``FILE_READS`` file reads. Each kind runs in both halves, so its
        samples meet the host at several moments of the round."""
        n_reads = len(self.wl.read_args)
        for half in range(2):
            self.op("encode", record=record)
            self.op("decode", record=record)
            for i in range(half, n_reads, 2):
                self.op("read", i, record=record)
            for _ in range(FILE_WRITES):
                self.op("file_write", record=record)
            for _ in range(FILE_READS):
                self.op("file_read", record=record)

    def setup(self, trace_dir: str | None = None) -> tuple[float, float]:
        """Start a SparkContext and write the inputs; returns both times."""
        from perfbench import session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = session.start(trace_dir)
        t1 = time.perf_counter()
        self.wl.write_inputs()
        return t1 - t0, time.perf_counter() - t1

    def warm_up(self) -> float:
        """``WARMUP_ROUNDS`` unrecorded rounds on the current context;
        returns their wall."""
        t0 = time.perf_counter()
        for _ in range(WARMUP_ROUNDS):
            self.one_round(record=False)
        return time.perf_counter() - t0

    def closed_loop(self, seconds: float) -> None:
        """Whole rounds for about ``seconds`` (at least two): a round starts
        only if one more round of the last one's length fits. Rounds
        interleave the op kinds, so a slow spell of the host lands on all of
        them alike instead of on one kind's samples."""
        deadline = time.perf_counter() + seconds
        last = 0.0
        while self.rounds < 2 or time.perf_counter() + last <= deadline:
            t0 = time.perf_counter()
            self.one_round()
            last = time.perf_counter() - t0
            self.rounds += 1


END_TO_END = [
    ("setup_s", "s"), ("encode_mbps", "MB/s"), ("decode_mbps", "MB/s"),
    ("filtered_read_p50_ms", "ms"), ("bytes_ratio", "ratio"), ("ok_ops_frac", "ratio"),
    ("worker_peak_rss_mb", "MB"), ("file_write_mbps", "MB/s"),
]


def end_to_end(r: Runner, jvm_s: float, setups, warmup: float) -> dict:
    """The end-to-end metrics: op timings are medians of every sample of the
    closed loop, scaled to the host's reference speed (``host_scale``);
    throughputs are input MB over such an op wall."""
    wl = r.wl
    raw_mb = wl.raw_bytes / 1e6
    scale = host_scale(r)

    def wall(kind: str) -> float:
        return statistics.median(r.walls[kind]) * scale

    values = {
        "setup_s": jvm_s + statistics.median(sum(s) for s in setups) + warmup,
        "encode_mbps": raw_mb / wall("encode"),
        "decode_mbps": raw_mb / wall("decode"),
        "filtered_read_p50_ms": 1e3 * wall("read"),
        "bytes_ratio": wl.encoded_bytes / wl.raw_bytes,
        "ok_ops_frac": (r.attempted - r.failed) / r.attempted,
        "worker_peak_rss_mb": r.peak_rss / 1e6,
        "file_write_mbps": raw_mb / wall("file_write"),
    }
    return {name: (values[name], unit) for name, unit in END_TO_END}


def host_scale(r: Runner) -> float:
    """PROBE_REF_S over the run's median probe wall: below 1 when the host
    ran slower than its reference speed."""
    return PROBE_REF_S / statistics.median(r.probes)


def _steal_s() -> float:
    """CPU time the hypervisor has given other guests instead of this VM, all
    CPUs summed (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run(args, root: str) -> dict:
    from perfbench import session
    from perfbench.workloads import SPECS, Workload

    work = os.path.join(root, ".perfbench")
    shutil.rmtree(work, ignore_errors=True)
    session.prepare_env(root, work)
    r = Runner(Workload(SPECS[args.workload], args.seed, work))
    try:
        steal = [_steal_s()]
        t0 = time.perf_counter()
        session.launch_jvm()
        jvm_s = time.perf_counter() - t0
        setups = [r.setup() for _ in range(SETUPS)]
        r.wl.build_references()
        warmup = r.warm_up()
        r.wl.hash_input(r.spark)
        r.settle()
        steal.append(_steal_s())
        r.closed_loop(args.seconds)
        steal.append(_steal_s())
        wl = r.wl
        info = {
            "workload": wl.spec.name, "seed": args.seed, "rows": wl.spec.rows,
            "raw_bytes": wl.raw_bytes, "encoded_bytes": wl.encoded_bytes,
            "batch_working_set_bytes": wl.batch_bytes, "input_sha256": wl.input_digest,
            "samples": {k: len(v) for k, v in r.walls.items()},
            # a host running other guests slows every op of a run at once
            "steal_s": {"setup": round(steal[1] - steal[0], 2),
                        "loop": round(steal[2] - steal[1], 2)},
            "jvm_s": round(jvm_s, 3), "setups_s": [[round(x, 3) for x in s] for s in setups],
            "warmup_s": round(warmup, 3),
            "warmup_walls_s": {k: [round(x, 3) for x in v] for k, v in r.warm_walls.items()},
            "walls_s": {k: [round(x, 3) for x in v] for k, v in r.walls.items()},
            "op_steal_s": {k: [round(x, 2) for x in v] for k, v in r.steals.items()},
            "probe_s": [round(x, 4) for x in r.probes],
            "host_scale": round(host_scale(r), 4),
        }
        if args.trace:
            untraced = dict(r.walls)
            trace_dir = os.path.join(work, "trace")
            from perfbench import ledger

            metrics, table = ledger.traced_run(r, trace_dir, jvm_s, setups, warmup,
                                               untraced)
            print(table)
        else:
            metrics = end_to_end(r, jvm_s, setups, warmup)
        print("# " + json.dumps(info))
    finally:
        if r.spark is not None:
            r.spark.stop()
        session.shutdown()
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pq_engine", "__init__.py")):
        print("perfbench: pq_engine/ not found; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import SPECS

    if args.workload not in SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(SPECS)}",
              file=sys.stderr)
        return 2
    result = run(args, root)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
