"""PySpark daemon for the traced run (``spark.python.daemon.module``).

Imports the engine, wraps its layer functions and ``pyspark.worker.main``
(one span per task), then runs the stock daemon, which forks the workers:
every worker inherits the wrappers. Spans are flushed to
``$PERFBENCH_SPAN_DIR`` at the end of each task.
"""

import os
import time

import pyspark.worker
from pyspark import daemon

import pq_engine.spark.engine  # noqa: F401  (load every binding install() rewrites)
from perfbench import tracing

_rec = tracing.Recorder(active=lambda: bool(_rec.stack))
tracing.install(_rec)
_main = daemon.worker_main
_read_int = pyspark.worker.read_int
_span_dir = os.environ["PERFBENCH_SPAN_DIR"]
_waiting = []  # the task span whose first header read has not returned yet


def _first_read_int(stream):
    # A reused worker enters main() as soon as its previous task ends and
    # blocks in the first read_int until the next task arrives: the task
    # starts when that read returns.
    value = _read_int(stream)
    if _waiting:
        _waiting.pop()[2] = time.perf_counter()
    return value


def _traced_main(infile, outfile):
    span = _rec.open("task")
    _waiting[:] = [span]
    try:
        return _main(infile, outfile)
    finally:
        _waiting.clear()
        _rec.close(span)
        _rec.flush(tracing.span_file(_span_dir))


pyspark.worker.read_int = _first_read_int
daemon.worker_main = _traced_main

if __name__ == "__main__":
    daemon.manager()
