"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``(rows, seed)``: the same seed gives the
same bytes, another seed gives other bytes. The engine only ever sees the
parquet files written here; the in-memory tables stay in the benchmark as the
reference that every operation's output is checked against.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CDX_STATUS = np.array(["200", "301", "302", "304", "404", "403", "500", "503"])
CDX_STATUS_P = np.array([0.80, 0.06, 0.05, 0.02, 0.04, 0.01, 0.01, 0.01])
CDX_MIME = np.array([
    "text/html", "application/xhtml+xml", "text/plain", "application/pdf",
    "image/jpeg", "application/json", "text/css", "application/javascript",
    "image/png", "unk",
])
CDX_MIME_P = np.array([0.62, 0.10, 0.06, 0.05, 0.05, 0.04, 0.03, 0.03, 0.015, 0.005])
_B32 = np.frombuffer(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ234567", dtype=np.uint8)
CDX_DIGEST_LEN = 32


def webpages(rows: int, seed: int) -> pa.Table:
    """Common-Crawl-style pages (url, warc_ts, html, text, lang) from the
    engine's own generator, at the html size of its distributed path
    (``webpages_df``: LogNormal mu 7.5, about 4 KB of html per row)."""
    from pq_engine.datagen import gen_webpages

    return gen_webpages(rows, seed=seed, html_mu=7.5)


def _draw(rng, p: np.ndarray, n: int) -> np.ndarray:
    """``n`` category indexes with probabilities ``p``."""
    cdf = np.cumsum(p)
    return np.minimum(np.searchsorted(cdf / cdf[-1], rng.random(n), side="right"), len(p) - 1)


def cdx(rows: int, seed: int) -> pa.Table:
    """A narrow Common-Crawl-index-style table, about 90 B per row in Arrow.

    offset   int64    sorted (running sum of the record lengths)
    length   int32    LogNormal record sizes
    status   string   8 HTTP codes, skewed
    mime     string   10 types, skewed
    fetch_ts ts[UTC]  near-sorted crawl times (0.5 % adjacent swaps)
    score    float64  5 % nulls
    digest   string   32-char base32 content digests, all distinct
    """
    rng = np.random.default_rng(seed)
    length = np.clip(rng.lognormal(9.5, 1.0, rows), 200, 1 << 22).astype(np.int32)
    offset = np.zeros(rows, dtype=np.int64)
    np.cumsum(length[:-1], out=offset[1:])
    status = CDX_STATUS[_draw(rng, CDX_STATUS_P, rows)]
    mime = CDX_MIME[_draw(rng, CDX_MIME_P, rows)]
    ts = np.int64(1_704_067_200_000_000) + np.cumsum(
        rng.exponential(20_000.0, rows).astype(np.int64)
    )
    swap = np.flatnonzero(rng.random(rows - 1) < 0.005)
    ts[swap], ts[swap + 1] = ts[swap + 1].copy(), ts[swap].copy()
    score = rng.gamma(2.0, 0.25, rows).round(4)
    score_valid = rng.random(rows) >= 0.05
    digest = _B32[rng.integers(0, 32, rows * CDX_DIGEST_LEN)]
    digest_offsets = np.arange(rows + 1, dtype=np.int32) * CDX_DIGEST_LEN
    return pa.table({
        "offset": pa.array(offset),
        "length": pa.array(length),
        "status": pa.array(status),
        "mime": pa.array(mime),
        "fetch_ts": pa.array(ts, type=pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "score": pa.array(score, mask=~score_valid),
        "digest": pa.Array.from_buffers(
            pa.string(), rows, [None, pa.py_buffer(digest_offsets), pa.py_buffer(digest)]
        ),
    })


def write_input(table: pa.Table, directory: str, row_groups: int) -> str:
    """Write ``table`` as one uncompressed parquet file of ``row_groups`` row
    groups (the engine's split unit) and return the file's path."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, "part-0.parquet")
    pq.write_table(table, path, row_group_size=-(-table.num_rows // row_groups),
                   compression="none")
    return path


def file_digest(path: str) -> str:
    """sha256 of a file's bytes."""
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def canonical(table: pa.Table) -> pa.Table:
    """Rows in a total order (sorted on every column), chunks combined, so two
    tables holding the same multiset of rows compare equal."""
    if table.num_rows == 0:
        return table.combine_chunks()
    keys = [(c, "ascending") for c in table.column_names]
    return table.sort_by(keys).combine_chunks()
