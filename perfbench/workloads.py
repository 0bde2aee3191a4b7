"""The workloads: generated inputs, the operations run against the
engine's public API, and the check of every operation's output.

Each operation is split in two: ``run_<op>`` is what the benchmark times,
``check_<op>`` compares its output with the reference and is not timed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import inputs

# Codecs the interop writer can frame per physical family; a page-table codec
# with no parquet encoding (FSST) is written PLAIN.
_FILE_CODECS = {
    "bytes": {"plain", "dlba", "dba", "dict"},
    "number": {"plain", "delta", "bss", "dict"},
}


ROW_GROUPS = 4  # input splits handed to the engine
READ_KEYS = 3   # distinct filtered reads drawn from the seed


@dataclass(frozen=True)
class Spec:
    name: str
    table: str            # "webpages" | "cdx"
    rows: int
    compression: str | None
    bloom: bool
    read: str             # "url_eq" point lookup | "ts_range" page-level scan


# Why each workload exists is recorded in BENCHMARK.json and README.md.
SPECS = {
    s.name: s
    for s in [
        Spec("crawl_zstd", "webpages", 12_000, "zstd", True, "url_eq"),
        Spec("cdx_lightweight", "cdx", 100_000, None, False, "ts_range"),
    ]
}


def _ptype(t: pa.DataType) -> str:
    from pq_engine.spark.engine import arrow_type_to_ptype

    return arrow_type_to_ptype(t)


def _kernel_column(arr: pa.ChunkedArray, ptype: str):
    """(values, validity) in the engine's kernel form: non-null values only,
    RaggedBytes for strings/binary, int64 micros for timestamps."""
    from pq_engine.kernels.ragged import RaggedBytes

    arr = arr.combine_chunks()
    if ptype in ("string", "binary"):
        return RaggedBytes.from_arrow_nullable(arr)
    validity = np.asarray(arr.is_valid()) if arr.null_count else None
    if arr.null_count:
        arr = arr.drop_null()
    if pa.types.is_timestamp(arr.type):
        arr = arr.cast(pa.int64())
    return np.asarray(arr), validity


def _same_column(a, b) -> bool:
    (va, ma), (vb, mb) = a, b
    n = len(ma) if ma is not None else len(va)
    ma = np.ones(n, dtype=bool) if ma is None else np.asarray(ma, dtype=bool)
    mb = np.ones(n, dtype=bool) if mb is None else np.asarray(mb, dtype=bool)
    if not np.array_equal(ma, mb):
        return False
    if isinstance(va, np.ndarray) != isinstance(vb, np.ndarray):
        return False
    if isinstance(va, np.ndarray):
        return va.dtype == vb.dtype and np.array_equal(va, vb)
    return bool(va == vb)


def column_hashes(df, columns: list[str]) -> tuple:
    """Row count and, per column, the sum of every value's xxhash64: equal
    for two frames holding the same rows in any order. Computed inside Spark,
    so a decode is consumed without shipping the table to this process."""
    from pyspark.sql import functions as F

    aggs = [F.sum(F.xxhash64(F.col(c)).cast("decimal(38,0)")).alias(c) for c in columns]
    row = df.agg(F.count(F.lit(1)).alias("__rows"), *aggs).collect()[0]
    return tuple(row)


def page_table_digest(table: pa.Table) -> str:
    """sha256 of a page table, independent of the order rows were written in."""
    keys = ["split_id", "batch_id", "column", "page"]
    t = table.sort_by([(k, "ascending") for k in keys])
    h = hashlib.sha256()
    for name in sorted(t.column_names):
        h.update(name.encode())
        for v in t.column(name).to_pylist():
            h.update(v if isinstance(v, bytes) else repr(v).encode())
    return h.hexdigest()


class Workload:
    """Inputs, references and operations of one workload at one seed."""

    def __init__(self, spec: Spec, seed: int, work: str):
        self.spec, self.seed = spec, seed
        self.input_dir = os.path.join(work, "input")
        self.sink = os.path.join(work, "sink")
        self.file_path = os.path.join(work, "interop", "table.parquet")
        self.page_digest = None
        self.file_digest = None
        self.encoded_bytes = None
        self.chunks_total = None
        self.input_hashes = None

    # ------------------------------------------------------------ set-up

    def write_inputs(self) -> None:
        """Generate the seed's input and write the engine's input file: the
        timed part of a set-up. Re-running it rewrites identical files."""
        spec = self.spec
        make = inputs.webpages if spec.table == "webpages" else inputs.cdx
        self.table = make(spec.rows, self.seed)
        for d in (self.input_dir, self.sink, os.path.dirname(self.file_path)):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.dirname(self.file_path))
        self.input_file = inputs.write_input(self.table, self.input_dir, ROW_GROUPS)

    def build_references(self) -> None:
        """The checks' references that need no Spark, from the input table
        (not timed)."""
        spec, table = self.spec, self.table
        self.input_digest = inputs.file_digest(self.input_file)
        self.columns = table.column_names
        self.ptypes = {f.name: _ptype(f.type) for f in table.schema}
        self.raw_bytes = table.nbytes
        batch_rows = min(65_536, -(-spec.rows // ROW_GROUPS))  # encode batch size
        self.batch_bytes = self.raw_bytes * batch_rows // spec.rows
        self.kernel_cols = {
            n: _kernel_column(table.column(n), self.ptypes[n]) for n in self.columns
        }
        rng = np.random.default_rng(self.seed + 7919)
        if spec.read == "url_eq":
            urls = table.column("url")
            picks = rng.choice(spec.rows, READ_KEYS - 1, replace=False)
            self.read_args = [urls[int(i)].as_py() for i in picks]
            self.read_args.append(f"https://absent-{self.seed}.example.org/none")
            self.expected = [self._brute(pc.equal(urls, u)) for u in self.read_args]
        else:
            col = table.column("fetch_ts").cast(pa.int64())
            ts = np.asarray(col)
            span = max(1, spec.rows // 2_000)
            starts = rng.choice(spec.rows - span, READ_KEYS, replace=False)
            self.read_args = [(int(ts[s]), int(ts[s + span])) for s in starts]
            self.expected = [
                self._brute(pc.and_(pc.greater_equal(col, lo), pc.less_equal(col, hi)))
                for lo, hi in self.read_args
            ]

    def hash_input(self, spark) -> None:
        """The decode check's reference: row count and per-column hashes of
        the input file read by Spark's own parquet reader (not timed; run
        after the warm-up, so the warm-up pays Spark's first jobs)."""
        self.input_hashes = column_hashes(spark.read.parquet(self.input_file), self.columns)

    def _brute(self, mask) -> pa.Table:
        return inputs.canonical(self.table.filter(mask))

    # -------------------------------------------------------------- encode

    def run_encode(self, spark, rec):
        from pq_engine.spark.engine import encode_parquet_files

        with rec.span("engine.plan"):
            pages = encode_parquet_files(
                spark, self.input_dir, page_compression=self.spec.compression,
                with_bloom=self.spec.bloom,
            )
        pages.write.mode("overwrite").option("compression", "none").parquet(self.sink)

    def check_encode(self, _result) -> bool:
        table = pq.read_table(self.sink)
        digest = page_table_digest(table)
        if self.page_digest is None:
            self.page_digest = digest
            self.encoded_bytes = int(pc.sum(table.column("encoded_bytes")).as_py())
            keys = ["split_id", "batch_id"]
            self.chunks_total = table.select(keys).group_by(keys).aggregate([]).num_rows
            self.sink_table = table
            self._choose_file_codecs(table)
        return digest == self.page_digest

    def _choose_file_codecs(self, pages: pa.Table) -> None:
        """Per column, the codec the page table used on most data pages."""
        data = pages.filter(pc.greater_equal(pages.column("page"), 0))
        counts = data.group_by(["column", "codec"]).aggregate([("page", "count")])
        best: dict[str, tuple[int, str]] = {}
        for row in counts.to_pylist():
            c = row["column"]
            if c not in best or row["page_count"] > best[c][0]:
                best[c] = (row["page_count"], row["codec"])
        self.file_codecs = {}
        for name in self.columns:
            family = "bytes" if self.ptypes[name] in ("string", "binary") else "number"
            codec = best[name][1]
            self.file_codecs[name] = codec if codec in _FILE_CODECS[family] else "plain"

    # -------------------------------------------------------------- decode

    def _pages(self, spark):
        return spark.read.parquet(self.sink)

    def run_decode(self, spark, rec):
        from pq_engine.spark.engine import decode_table

        with rec.span("engine.plan"):
            df = decode_table(self._pages(spark), self.columns, self.ptypes)
        return column_hashes(df, self.columns)

    def check_decode(self, hashes: tuple) -> bool | None:
        """None while the reference is not built yet (during the warm-up)."""
        if self.input_hashes is None:
            return None
        return hashes == self.input_hashes

    def _same_rows(self, out: pa.Table, expected: pa.Table) -> bool:
        if out.num_rows != expected.num_rows or out.column_names != expected.column_names:
            return False
        return inputs.canonical(out.cast(self.table.schema)).equals(expected)

    # ------------------------------------------------------- filtered read

    def read_plan(self, spark, i: int):
        """(pruned page table, residual row filter) of filtered read ``i``."""
        from pq_engine.spark import filterapi
        from pq_engine.spark.engine import prune_pages_by_stats
        from pyspark.sql import functions as F

        pages = self._pages(spark)
        if self.spec.read == "url_eq":
            pred = filterapi.eq("url", self.read_args[i])
            return filterapi.filter_pages(pages, pred), filterapi.residual_expr(pred)
        lo, hi = self.read_args[i]
        pruned = prune_pages_by_stats(pages, "fetch_ts", lo, hi, numeric=True, level="page")
        ts = F.col("fetch_ts")
        return pruned, (ts >= F.timestamp_micros(F.lit(lo))) & (ts <= F.timestamp_micros(F.lit(hi)))

    def run_read(self, spark, rec, i: int):
        from pq_engine.spark.engine import decode_table

        with rec.span("engine.plan"):
            pruned, residual = self.read_plan(spark, i)
            df = decode_table(pruned, self.columns, self.ptypes).filter(residual)
        return df.toArrow()

    def check_read(self, out: pa.Table, i: int) -> bool:
        return self._same_rows(out, self.expected[i])

    def chunk_has_match(self, key: tuple[int, int], i: int) -> bool:
        """Whether chunk ``key`` of the sink holds a row matching read ``i``
        (decodes the probe column's pages with the engine's page decoder)."""
        from pq_engine.pages import decode_column

        col = "url" if self.spec.read == "url_eq" else "fetch_ts"
        t = self.sink_table
        mask = pc.and_(
            pc.and_(pc.equal(t.column("split_id"), key[0]), pc.equal(t.column("batch_id"), key[1])),
            pc.and_(pc.equal(t.column("column"), col), pc.greater_equal(t.column("page"), -2)),
        )
        sub = t.filter(mask).sort_by("page").to_pylist()
        pages = [(r, r["data"]) for r in sub]
        values, _ = decode_column(pages, self.ptypes[col])
        if self.spec.read == "url_eq":
            return self.read_args[i].encode() in set(values.to_pylist())
        lo, hi = self.read_args[i]
        return bool(((values >= lo) & (values <= hi)).any())

    # ------------------------------------------------------------ interop

    def file_columns(self) -> list[dict]:
        return [
            {"name": n, "ptype": self.ptypes[n], "codec": self.file_codecs[n],
             "values": self.kernel_cols[n][0], "validity": self.kernel_cols[n][1]}
            for n in self.columns
        ]

    def run_file_write(self, _spark, _rec):
        from pq_engine.interop import parquet_writer

        parquet_writer.write_parquet(
            self.file_path, self.file_columns(), self.spec.rows,
            compression=self.spec.compression,
        )

    def check_file_write(self, _result) -> bool:
        digest = inputs.file_digest(self.file_path)
        if self.file_digest is None:
            self.file_digest = digest
            self.file_bytes = os.path.getsize(self.file_path)
        return digest == self.file_digest

    def run_file_read(self, _spark, _rec):
        from pq_engine.interop import parquet_reader

        return parquet_reader.read_parquet(self.file_path)[1]

    def check_file_read(self, cols: dict) -> bool:
        return set(cols) == set(self.columns) and all(
            _same_column(cols[n], self.kernel_cols[n]) for n in self.columns
        )

