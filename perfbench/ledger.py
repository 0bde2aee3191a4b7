"""The traced run and its per-layer ledger.

After the untraced closed loop, the run starts a traced SparkContext (the
benchmark's daemon module wraps the layers in every worker; the event log is
on), warms it as long as the untraced one, then runs ``TRACED_ROUNDS``
rounds plus two probes: the surviving key set of each filtered read alone, and a
no-op ``mapInArrow`` over the encode's task layout. Worker spans are
attributed to the op whose window their task started in; ops are sequential,
so windows never overlap.

Every time and count is per round (summed over the rounds, divided by their
number) unless its name says "per op" or "per read". A layer's self time is
its spans' time minus the time of the spans they called.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import statistics
import time
from collections import defaultdict

from perfbench import session, tracing

TRACED_ROUNDS = 2
SPARK_OPS = ("encode", "decode", "read")
KERNELS = ("fsst", "dictionary", "delta", "deltastrings", "bytestream", "plain", "rle")
CODECS = ("dict", "delta", "dlba", "dba", "fsst", "bss", "plain", "rle")


def _noop(batches):
    yield from batches


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order."""
    names = []
    for k in KERNELS:
        names += [f"kernels.{k}.encode_s", f"kernels.{k}.decode_s", f"kernels.{k}.mb_in"]
    names += ["kernels.fsst.build_table_s", "kernels.bloom.build_s", "kernels.bloom.probe_s"]
    names += ["stats.busy_s", "stats.chunks"] + [f"stats.codec_chunks.{c}" for c in CODECS]
    names += ["pages.encode_self_s", "pages.decode_self_s", "pages.pages_written",
              "pages.dict_fallbacks", "pages.plain_pages"]
    names += ["compression.compress_s", "compression.decompress_s",
              "compression.bytes_in", "compression.bytes_out"]
    for what in ("jobs", "stages", "tasks"):
        names += [f"engine.{what}.{op}" for op in SPARK_OPS]
    names += ["engine.task_s", "engine.task_self_s", "engine.slot_idle_s",
              "engine.shuffle_bytes", "engine.executor_run_s", "engine.task_fixed_ms",
              "engine.plan_s"]
    names += ["filterapi.keys_s", "filterapi.jobs_per_read", "filterapi.chunks_kept",
              "filterapi.chunks_total", "filterapi.useful_ratio"]
    names += ["interop.write_s", "interop.read_s", "interop.bytes_written"]
    names += ["setup.session_s", "setup.datagen_s", "setup.warmup_s"]
    names += ["trace.coverage", "trace.overhead_frac"]
    return names


def unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("mb_in"):
        return "MB"
    if name.endswith(("bytes", "bytes_in", "bytes_out", "bytes_written")):
        return "bytes"
    if name.endswith(("ratio", "coverage", "overhead_frac")):
        return "ratio"
    return "count"


def _self_times(batch: list[list]):
    """(span, self seconds, children) for every span of one batch."""
    children = defaultdict(list)
    for i, s in enumerate(batch):
        if s[4] >= 0:
            children[s[4]].append(i)
    for i, s in enumerate(batch):
        kids = children.get(i, [])
        covered = sum(batch[k][3] - batch[k][2] for k in kids)
        yield s, (s[3] - s[2]) - covered, [batch[k] for k in kids]


def _driver_batches(spans: list[list]) -> list[list[list]]:
    """Split the driver's span list into one batch per op (ops run one after
    another, so each op's spans are contiguous), parents re-indexed."""
    out, start = [], 0
    for i in range(1, len(spans) + 1):
        if i == len(spans) or spans[i][0] != spans[start][0]:
            out.append([s[:4] + [s[4] - start if s[4] >= start else -1] + s[5:]
                        for s in spans[start:i]])
            start = i
    return out


def _event_log(trace_dir: str) -> dict[str, dict]:
    """Per job group: executor run seconds, shuffle bytes written and each
    task's executor run time in ms."""
    stage_group = {}
    out = defaultdict(lambda: {"run_s": 0.0, "shuffle": 0, "task_ms": []})
    for path in glob.glob(os.path.join(trace_dir, "events", "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    run_ms = m.get("Executor Run Time", 0)
                    out[group]["run_s"] += run_ms / 1e3
                    out[group]["task_ms"].append(run_ms)
                    out[group]["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return out


def _slot_time(intervals: list[tuple[float, float]], t0: float, t1: float, slots: int) -> float:
    """Integral over [t0, t1] of min(tasks running, slots)."""
    edges = []
    for a, b in intervals:
        a, b = max(a, t0), min(b, t1)
        if b > a:
            edges += [(a, 1), (b, -1)]
    edges.sort()
    total, running, last = 0.0, 0, t0
    for t, step in edges:
        total += min(running, slots) * (t - last)
        running, last = running + step, t
    return total


def _probe_keys(r, i: int) -> tuple[float, list[tuple[int, int]]]:
    """Wall and result of evaluating filtered read ``i``'s surviving chunk
    keys alone (no decode)."""
    sc = r.spark.sparkContext
    sc.setJobGroup(f"keys-{i}", f"keys-{i}")
    t0 = time.perf_counter()
    pruned, _ = r.wl.read_plan(r.spark, i)
    rows = pruned.select("split_id", "batch_id").distinct().collect()
    wall = time.perf_counter() - t0
    r.windows.append((f"keys-{i}", "keys", t0, t0 + wall))
    return wall, [(row[0], row[1]) for row in rows]


def _probe_task_fixed(r, n_tasks: int) -> None:
    """A no-op ``mapInArrow`` over ``n_tasks`` tasks, run twice: the first
    run imports this module in the workers, the second ("noop") is kept."""
    for group in ("noop-warm", "noop"):
        r.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        r.spark.range(0, n_tasks, 1, n_tasks).mapInArrow(_noop, "id long").collect()
        r.windows.append((group, group, t0, time.perf_counter()))


def traced_run(r, trace_dir: str, jvm_s: float, setups, warmup: float,
               untraced: dict[str, list[float]]):
    """Run the traced rounds on a fresh traced context of ``r`` and return
    (per-layer metrics, printable table)."""
    wl = r.wl
    r.setup(trace_dir)
    tracing.install(r.rec, layers=tracing.DRIVER_LAYERS)
    r.walls, r.windows, r.jobs, r.rec.spans = {}, [], {}, []
    r.warm_up()
    r.track_jobs = True
    for _ in range(TRACED_ROUNDS):
        r.one_round()
    r.track_jobs = False
    keys = [_probe_keys(r, i) for i in range(len(wl.read_args))]
    useful = sum(wl.chunk_has_match(k, i) for i, (_, ks) in enumerate(keys) for k in ks)
    encode_tasks = max(t for _, _, t in r.jobs["encode"])
    _probe_task_fixed(r, encode_tasks)
    r.spark.stop()  # flushes the event log and ends the workers
    r.spark = None

    windows = sorted(r.windows, key=lambda w: w[2])
    starts = [w[2] for w in windows]
    kind_of = {w[0]: w[1] for w in windows}
    wall_of = {w[0]: w[3] - w[2] for w in windows}

    def op_at(t: float):
        j = bisect.bisect_right(starts, t) - 1
        return windows[j][0] if j >= 0 and t <= windows[j][3] else None

    acc = defaultdict(float)
    layer_self = defaultdict(float)
    layer_calls = defaultdict(int)
    tasks = defaultdict(list)
    batches = tracing.load_batches(os.path.join(trace_dir, "spans"))
    for batch in batches + _driver_batches(r.rec.spans):
        op = batch[0][0] or op_at(batch[0][2])
        if kind_of.get(op) not in SPARK_OPS + ("file_write", "file_read"):
            continue
        if batch[0][1] == "task":
            tasks[op].append((batch[0][2], batch[0][3]))
        _account(batch, acc, layer_self, layer_calls)

    rounds = TRACED_ROUNDS
    m = {k: v / rounds for k, v in acc.items()}
    events = _event_log(trace_dir)
    spark_ops = [op for op, k in kind_of.items() if k in SPARK_OPS]
    slot_s = sum(wall_of[op] * session.CORES for op in spark_ops)
    run_s = sum(events[op]["run_s"] for op in spark_ops)
    m["engine.slot_idle_s"] = (slot_s - run_s) / rounds
    m["engine.shuffle_bytes"] = sum(events[op]["shuffle"] for op in spark_ops) / rounds
    m["engine.executor_run_s"] = run_s / rounds
    noop_ms = events["noop"]["task_ms"]
    m["engine.task_fixed_ms"] = statistics.median(noop_ms) if noop_ms else 0.0
    for kind in SPARK_OPS:
        counts = r.jobs.get(kind, [(0, 0, 0)])
        for j, what in enumerate(("jobs", "stages", "tasks")):
            m[f"engine.{what}.{kind}"] = statistics.mean(c[j] for c in counts)
    m["filterapi.keys_s"] = statistics.mean(w for w, _ in keys)
    m["filterapi.jobs_per_read"] = m["engine.jobs.read"]
    kept = sum(len(ks) for _, ks in keys)
    m["filterapi.chunks_kept"] = kept / len(keys)
    m["filterapi.chunks_total"] = wl.chunks_total
    m["filterapi.useful_ratio"] = useful / kept if kept else 1.0
    m["interop.write_s"] = sum(r.walls["file_write"]) / rounds
    m["interop.read_s"] = sum(r.walls["file_read"]) / rounds
    m["interop.bytes_written"] = wl.file_bytes
    m["setup.session_s"] = jvm_s + statistics.median(s[0] for s in setups)
    m["setup.datagen_s"] = statistics.median(s[1] for s in setups)
    m["setup.warmup_s"] = warmup
    covered = sum(_slot_time(tasks[op], w[2], w[3], session.CORES)
                  for op, w in ((w[0], w) for w in windows) if op in spark_ops)
    m["trace.coverage"] = covered / slot_s if slot_s else 0.0
    traced_med = sum(statistics.median(v) for k, v in r.walls.items() if k in untraced)
    untraced_med = sum(statistics.median(untraced[k]) for k in r.walls if k in untraced)
    m["trace.overhead_frac"] = traced_med / untraced_med - 1
    layer_self = {k: v / rounds for k, v in layer_self.items()}
    layer_self["interop"] = max(0.0, m["interop.write_s"] + m["interop.read_s"]
                                - layer_self.pop("interop.kernels", 0.0))
    # the client waits out each Spark op: the part of its wall that neither
    # builds plans in the driver nor runs Python tasks is JVM execution and
    # scheduling (Python slot time counts once per slot)
    spark_wall = sum(wall_of[op] for op in spark_ops)
    layer_self["engine (job: JVM, scheduling)"] = max(
        0.0, (spark_wall - acc["engine.plan_s"] - covered / session.CORES) / rounds)
    metrics = {name: (float(m.get(name, 0.0)), unit(name)) for name in per_layer_names()}
    calls = {k: v / rounds for k, v in layer_calls.items()}
    return metrics, _table(wl.spec.name, layer_self, calls, m)


def _layer(name: str) -> str:
    if name.startswith("kernels."):
        return ".".join(name.split(".")[:2])
    return name.split(".")[0]


def _account(batch: list[list], acc, layer_self, layer_calls) -> None:
    """Add one batch's spans to the per-layer accumulators."""
    driver_side = batch[0][1] != "task"
    for s, self_s, kids in _self_times(batch):
        name = s[1]
        parent = batch[s[4]][1] if s[4] >= 0 else None
        if driver_side and name.startswith(("kernels.", "compression.")) and parent is None:
            layer_self["interop.kernels"] += s[3] - s[2]  # inside the interop op
        if name == "task":
            acc["engine.task_s"] += s[3] - s[2]
            acc["engine.task_self_s"] += self_s
            layer = "engine (Python task self)"
        elif name == "engine.plan":
            acc["engine.plan_s"] += s[3] - s[2]
            layer = "engine (driver plan)"
        else:
            layer = _layer(name)
        layer_self[layer] += self_s
        layer_calls[layer] += 1
        if layer.startswith("engine"):
            continue
        if name.startswith("kernels."):
            mod, what = name.split(".")[1:]
            acc[f"kernels.{mod}.{what}_s"] += self_s
            if what == "encode" and parent != name:
                acc[f"kernels.{mod}.mb_in"] += s[5] / 1e6
        elif name.startswith("compression."):
            what = name.split(".")[1]
            acc[f"compression.{what}_s"] += self_s
            if what == "compress":
                acc["compression.bytes_in"] += s[5]
                acc["compression.bytes_out"] += s[6]
        elif name.startswith("stats"):
            acc["stats.busy_s"] += self_s
            if name == "stats.choose_codec":
                acc["stats.chunks"] += 1
                acc[f"stats.codec_chunks.{s[7]}"] += 1
        elif name == "pages.encode":
            acc["pages.encode_self_s"] += self_s
            codecs = s[7] or {}
            acc["pages.pages_written"] += sum(codecs.values())
            acc["pages.plain_pages"] += codecs.get("plain", 0)
            chosen = [k[7] for k in kids if k[1] == "stats.choose_codec"]
            if chosen == ["dict"] and set(codecs) - {"dict"}:
                acc["pages.dict_fallbacks"] += 1
        elif name == "pages.decode":
            acc["pages.decode_self_s"] += self_s


def _table(workload: str, layer_self: dict[str, float], calls: dict[str, float], m: dict) -> str:
    total = sum(layer_self.values()) or 1.0
    rows = sorted(layer_self.items(), key=lambda kv: -kv[1])
    lines = [f"per-layer self time, {workload}, per round of every op (Python-side rows "
             f"sum parallel tasks; driver and job rows are client wall)",
             f"{'layer':<34}{'self_s':>10}{'share':>8}{'calls':>10}"]
    lines += [f"{k:<34}{v:>10.3f}{v / total:>8.1%}{calls.get(k, 0):>10.1f}" for k, v in rows]
    grouped = defaultdict(float)
    for k, v in layer_self.items():
        grouped[k.split(" ")[0].split(".")[0]] += v
    by_layer = sorted(grouped.items(), key=lambda kv: -kv[1])
    lines.append(f"largest self time: {rows[0][0] if rows else '-'}")
    lines.append("by layer (module): " + ", ".join(f"{k} {v:.3f}" for k, v in by_layer)
                 + f"; largest: {by_layer[0][0] if by_layer else '-'}")
    lines.append(f"span coverage of op wall x {session.CORES} slots: {m['trace.coverage']:.1%}; "
                 f"tracing overhead: {m['trace.overhead_frac']:+.1%}")
    return "\n".join(lines)
