"""Per-task media memoization shared by every media-consuming UDF.

Five vectorized UDF loops (OCR text + words in operators/extract.py;
decode-meta, resize, feature-extract in queries/multimodal.py) each carried
a copy-pasted memo-with-cap loop; unified here after r3 (BENCH.md r3
"Kernel profile" note). Semantics are unchanged and shared:

- keyed on ``media_ref`` — a payload repeated across many rows is decoded/
  recognized once per mapInPandas task (partition): the memo lives as
  long as the UDF's iterator, so a repeat in another task misses, even
  on the same python worker (reference analog: the per-thread provider
  instance, /root/reference src/recognition/main.cpp:136-177);
- bounded: past ``cap`` distinct refs the oldest entry is evicted (FIFO
  single-eviction — dicts iterate in insertion order, so ``next(iter(d))``
  is the oldest key). The original clear-all eviction is the exact thrash
  pattern measured at 1.24x on the rotate_nn memo when the working set
  exceeded the cap (BENCH.md r4); refs rarely repeat at production scale
  so the 65,536 cap makes thrash unlikely here, but the same two-line fix
  costs nothing (VERDICT r4 "What's wrong" #3);
- error quarantine counts DISTINCT payloads, not rows: a corrupt payload
  is attempted once, memoized as ``QUARANTINED``, and every later row with
  the same ref is dropped/NULLed for free.
"""

from __future__ import annotations

import time
from collections.abc import Callable

# Memoized marker for a payload whose decode/recognize failed under
# on_error='quarantine' (distinguishable from any real value incl. None).
QUARANTINED = object()

_CAP = 65536

# Cache-miss sentinel: distinct from any value compute can return, so a
# compute that legitimately returns None is still memoized (ADVICE r4 —
# with None as the sentinel such a value would silently re-run per row).
_MISSING = object()


class RefMemo:
    """``media_ref -> compute(ref, *args)`` with the shared payload cap."""

    __slots__ = ("_compute", "_memo", "_cap")

    def __init__(self, compute: Callable, cap: int = _CAP) -> None:
        self._compute = compute
        self._memo: dict = {}
        self._cap = cap

    def get(self, ref, *args):
        v = self._memo.get(ref, _MISSING)
        if v is _MISSING:
            v = self._compute(ref, *args)
            if len(self._memo) > self._cap:
                self._memo.pop(next(iter(self._memo)))  # FIFO: evict oldest
            self._memo[ref] = v
        return v


def drop_zip_finders() -> None:
    """Drop the cached zip importers from ``sys.path_importer_cache``.

    PySpark's per-task ``setup_spark_files`` calls
    ``importlib.invalidate_caches()``, and on Python 3.11
    ``zipimporter.invalidate_caches()`` eagerly re-parses its archive's
    central directory, once per cached importer. A worker holds ~16 of
    them (subpackages of ``pyspark.zip``, the ``spark-core`` JAR), which
    costs ~0.17 s at the start of every task. The cache is only a cache:
    a dropped importer is rebuilt on demand from
    ``zipimport._zip_directory_cache`` without a re-read. Python workers
    are reused, so calling this once per task leaves the next task's
    ``invalidate_caches()`` nothing to re-read.
    """
    import sys
    import zipimport

    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


class BatchStats:
    """Per-batch metering counters for the OCR compute (reset each Arrow
    batch, flushed to SpeedMeter accumulators by the UDF loop)."""

    __slots__ = ("t_dec", "t_ocr", "n_fresh", "n_err")

    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.t_dec = 0.0
        self.t_ocr = 0.0
        self.n_fresh = 0
        self.n_err = 0

    def flush(self, meter) -> None:
        if meter is not None:
            meter.n_images.add(self.n_fresh)
            meter.decode_s.add(self.t_dec)
            meter.ocr_s.add(self.t_ocr)
            if self.n_err:
                meter.n_errors.add(self.n_err)


def make_media_compute(
    recognize_to_value: Callable, on_error: str, stats: BatchStats
) -> Callable:
    """ref -> value via resolve+decode+recognize, with the decode/OCR wall
    split booked on `stats` and on_error='quarantine' mapping failures to
    ``QUARANTINED`` (decode failures book as decode time; recognize
    failures stay in ocr_s — same accounting as the pre-unification loops).
    """
    from ..kernels import render

    def compute(ref):
        t0 = time.time()
        t1 = None
        try:
            img = render.decode_image(render.resolve_media(ref))
            t1 = time.time()
            val = recognize_to_value(img)
        except Exception:
            if on_error == "fail":
                raise
            stats.n_err += 1
            if t1 is None:
                t1 = time.time()
            val = QUARANTINED
        stats.t_dec += t1 - t0
        stats.t_ocr += time.time() - t1
        stats.n_fresh += 1
        return val

    return compute
