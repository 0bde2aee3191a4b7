"""Spans for the traced run, recorded from outside the engine.

``install`` wraps the engine's public layer functions at every name their
callers look them up by: a module attribute (``pages`` calls
``pagecomp.compress`` and ``fsst.encode_fsst`` through their modules) and
every ``from x import f`` binding in another ``pq_engine`` module (``pages``
imports ``ragged_stats`` by name, ``spark.engine`` imports ``encode_column``).
Worker processes get the wrappers from the benchmark's daemon module before
they fork; the driver wraps only the kernel and compression layers, because
the Spark closures it pickles must keep referring to the original engine
functions.

A span is one call: its op id, name, start, end (``time.perf_counter``, the
system-wide monotonic clock on Linux, so worker and driver times compare),
parent span, bytes in and out, and a small tag. Spans stay in memory; a
worker flushes its spans at the end of each task as one JSON line to a file of
its own, the driver keeps its spans in its Recorder.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import sys
import time

# (module, attribute, span name). An attribute "Class.method" wraps a method.
LAYER_FUNCS = [
    ("pq_engine.kernels.fsst", "build_table", "kernels.fsst.build_table"),
    ("pq_engine.kernels.fsst", "encode_fsst", "kernels.fsst.encode"),
    ("pq_engine.kernels.fsst", "encode_fsst_tokens", "kernels.fsst.encode"),
    ("pq_engine.kernels.fsst", "encode_fsst_auto", "kernels.fsst.encode"),
    ("pq_engine.kernels.fsst", "decode_fsst", "kernels.fsst.decode"),
    ("pq_engine.kernels.dictionary", "factorize_numeric", "kernels.dictionary.encode"),
    ("pq_engine.kernels.dictionary", "factorize_bytes", "kernels.dictionary.encode"),
    ("pq_engine.kernels.dictionary", "encode_dict_data_page", "kernels.dictionary.encode"),
    ("pq_engine.kernels.dictionary", "encode_dict_page_numeric", "kernels.dictionary.encode"),
    ("pq_engine.kernels.dictionary", "encode_dict_page_bytes", "kernels.dictionary.encode"),
    ("pq_engine.kernels.dictionary", "decode_dict_data_page", "kernels.dictionary.decode"),
    ("pq_engine.kernels.dictionary", "decode_dict_page_numeric", "kernels.dictionary.decode"),
    ("pq_engine.kernels.dictionary", "decode_dict_page_bytes", "kernels.dictionary.decode"),
    ("pq_engine.kernels.delta", "encode_delta", "kernels.delta.encode"),
    ("pq_engine.kernels.delta", "decode_delta", "kernels.delta.decode"),
    ("pq_engine.kernels.deltastrings", "encode_delta_length", "kernels.deltastrings.encode"),
    ("pq_engine.kernels.deltastrings", "encode_delta_byte_array", "kernels.deltastrings.encode"),
    ("pq_engine.kernels.deltastrings", "decode_delta_length", "kernels.deltastrings.decode"),
    ("pq_engine.kernels.deltastrings", "decode_delta_byte_array", "kernels.deltastrings.decode"),
    ("pq_engine.kernels.bytestream", "encode_bss", "kernels.bytestream.encode"),
    ("pq_engine.kernels.bytestream", "decode_bss", "kernels.bytestream.decode"),
    ("pq_engine.kernels.bytestream", "decode_bss_fixed", "kernels.bytestream.decode"),
    ("pq_engine.kernels.plain", "encode_plain_numeric", "kernels.plain.encode"),
    ("pq_engine.kernels.plain", "encode_plain_bytes", "kernels.plain.encode"),
    ("pq_engine.kernels.plain", "encode_plain_bool", "kernels.plain.encode"),
    ("pq_engine.kernels.plain", "encode_plain_fixed", "kernels.plain.encode"),
    ("pq_engine.kernels.plain", "decode_plain_numeric", "kernels.plain.decode"),
    ("pq_engine.kernels.plain", "decode_plain_bytes", "kernels.plain.decode"),
    ("pq_engine.kernels.plain", "decode_plain_bool", "kernels.plain.decode"),
    ("pq_engine.kernels.plain", "decode_plain_fixed", "kernels.plain.decode"),
    ("pq_engine.kernels.rle", "encode_hybrid", "kernels.rle.encode"),
    ("pq_engine.kernels.rle", "encode_hybrid_length_prefixed", "kernels.rle.encode"),
    ("pq_engine.kernels.rle", "encode_bool_rle", "kernels.rle.encode"),
    ("pq_engine.kernels.rle", "decode_hybrid", "kernels.rle.decode"),
    ("pq_engine.kernels.rle", "decode_hybrid_length_prefixed", "kernels.rle.decode"),
    ("pq_engine.kernels.rle", "decode_bool_rle", "kernels.rle.decode"),
    ("pq_engine.kernels.bloom", "BlockSplitBloomFilter.insert_u64", "kernels.bloom.build"),
    ("pq_engine.kernels.bloom", "BlockSplitBloomFilter.contains_u64", "kernels.bloom.probe"),
    ("pq_engine.compression", "compress", "compression.compress"),
    ("pq_engine.compression", "decompress", "compression.decompress"),
    ("pq_engine.stats", "numeric_stats", "stats"),
    ("pq_engine.stats", "ragged_stats", "stats"),
    ("pq_engine.stats", "fixed_stats", "stats"),
    ("pq_engine.stats", "choose_codec", "stats.choose_codec"),
    ("pq_engine.pages", "encode_column", "pages.encode"),
    ("pq_engine.pages", "decode_column", "pages.decode"),
]
DRIVER_LAYERS = ("kernels.", "compression.")


def nbytes(x) -> int:
    """Payload size of a kernel argument or result."""
    if x is None:
        return 0
    if hasattr(x, "nbytes"):  # numpy arrays, Arrow arrays
        return int(x.nbytes)
    if hasattr(x, "data") and hasattr(x, "offsets"):  # RaggedBytes
        return int(x.data.nbytes + x.offsets.nbytes)
    if isinstance(x, (bytes, bytearray, memoryview)):
        return len(x)
    if isinstance(x, tuple):
        return sum(nbytes(v) for v in x)
    return 0


def _tag(name: str, result):
    if name == "stats.choose_codec":
        return result
    if name == "pages.encode":
        codecs: dict[str, int] = {}
        for meta, _blob in result:
            if meta["page"] >= 0:
                codecs[meta["codec"]] = codecs.get(meta["codec"], 0) + 1
        return codecs
    return None


class Recorder:
    """In-memory span list of one process. Spans are recorded while
    ``active`` returns true; ``op`` is the op id stamped on them (the driver
    knows it; worker spans get theirs from the op window their task started
    in, see ``assign_ops``)."""

    def __init__(self, active):
        self.active = active
        self.op = None
        self.spans: list[list] = []
        self.stack: list[int] = []

    def open(self, name: str) -> list:
        span = [self.op, name, time.perf_counter(), 0.0,
                self.stack[-1] if self.stack else -1, 0, 0, None]
        self.stack.append(len(self.spans))
        self.spans.append(span)
        return span

    def close(self, span: list) -> None:
        self.stack.pop()
        span[3] = time.perf_counter()

    def wrap(self, name: str, fn, method: bool = False):
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not rec.active():
                return fn(*args, **kwargs)
            span = rec.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                rec.close(span)
            payload = args[1 if method else 0] if len(args) > method else None
            span[5] = nbytes(payload)
            span[6] = nbytes(result) if name.startswith(("kernels.", "compression.")) else 0
            span[7] = _tag(name, result)
            return result

        return traced

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around code the benchmark runs itself."""
        if not self.active():
            yield
            return
        span = self.open(name)
        try:
            yield
        finally:
            self.close(span)

    def flush(self, path: str) -> None:
        """Append the spans as one JSON line (parent indexes are relative to
        that line) once no span is open."""
        if self.spans and not self.stack:
            with open(path, "a") as f:
                f.write(json.dumps(self.spans) + "\n")
            self.spans = []


def install(rec: Recorder, layers: tuple[str, ...] | None = None) -> None:
    """Wrap every layer function (or those whose span name starts with one of
    ``layers``) at all its bindings in loaded ``pq_engine`` modules."""
    for mod_name, attr, name in LAYER_FUNCS:
        if layers is not None and not name.startswith(layers):
            continue
        mod = importlib.import_module(mod_name)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, rec.wrap(name, getattr(cls, meth), method=True))
            continue
        orig = getattr(mod, attr)
        wrapper = rec.wrap(name, orig)
        for other in list(sys.modules.values()):
            if other is None or not getattr(other, "__name__", "").startswith("pq_engine"):
                continue
            if layers is not None and other.__name__.startswith("pq_engine.spark"):
                continue  # driver side: closures pickled from here stay original
            for key, val in list(vars(other).items()):
                if val is orig:
                    setattr(other, key, wrapper)


def span_file(directory: str) -> str:
    return os.path.join(directory, f"spans-{os.getpid()}.jsonl")


def load_batches(directory: str) -> list[list[list]]:
    """Every flushed span batch (one per worker task or driver flush)."""
    out = []
    for fname in sorted(os.listdir(directory)):
        with open(os.path.join(directory, fname)) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out
