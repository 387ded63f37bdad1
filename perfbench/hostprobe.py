"""Spark-free timings: the host control and the per-image kernel split.

``hw_control_ms`` runs the same render+recognize work in one process per
CPU of the affinity set, each pinned to its own CPU, and reports the median
per-image milliseconds. It says how fast this host is at the moment, so a
change in a Spark number can be told apart from a change in the host.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

_CONTROL_IMAGES = 60


def _control(cpu: int) -> float:
    """Median per-image ms of render+recognize, pinned to ``cpu``."""
    os.sched_setaffinity(0, {cpu})
    from ocr_suite_spark.kernels import render
    from ocr_suite_spark.kernels.ocr import Recognizer

    eng = Recognizer()
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"]
    times = []
    for i in range(_CONTROL_IMAGES):
        ws = [words[(cpu + i + j) % 7] for j in range(2 + i % 3)]
        ref = render.make_media_ref(ws, (-8, -4, 0, 2, 6)[i % 5], 1000 + i)
        t0 = time.perf_counter()
        eng.recognize(render.decode_image(render.resolve_media(ref)))
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def hw_control_ms(cpus: list[int]) -> float:
    """One process per CPU, all at once; median of their per-image ms."""
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(c)],
            stdout=subprocess.PIPE, text=True,
        )
        for c in cpus
    ]
    per = []
    for p in procs:
        out, _ = p.communicate(timeout=120)
        if p.returncode != 0:
            raise RuntimeError(f"host control process failed ({p.returncode})")
        per.append(float(out))
    return statistics.median(per)


def kernel_split_ms(refs: list[str]) -> dict[str, float]:
    """Median per-image ms of each public kernel call, in this process."""
    from ocr_suite_spark.kernels import render
    from ocr_suite_spark.kernels.ocr import Recognizer

    eng = Recognizer()
    res, dec, rec = [], [], []
    for ref in refs:
        t0 = time.perf_counter()
        data = render.resolve_media(ref)
        t1 = time.perf_counter()
        img = render.decode_image(data)
        t2 = time.perf_counter()
        eng.recognize(img)
        t3 = time.perf_counter()
        res.append(t1 - t0)
        dec.append(t2 - t1)
        rec.append(t3 - t2)
    return {
        "kernels.resolve_ms": statistics.median(res) * 1e3,
        "kernels.decode_ms": statistics.median(dec) * 1e3,
        "kernels.recognize_ms": statistics.median(rec) * 1e3,
    }


if __name__ == "__main__":
    print(_control(int(sys.argv[1])))
