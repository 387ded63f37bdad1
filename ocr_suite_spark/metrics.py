"""Per-stage rate metering — the speed_meter analog.

The reference reports OCR/s and seek/s every 5 seconds from hand-rolled
counters (/root/reference src/recognition/speed_meter.cpp:35-58). Spark's
native equivalent is accumulators: python workers add per-batch decode and
recognize wall time inside the UDF, the driver snapshots after each action.
No extra columns, no extra jobs — observability rides along with the run.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass
class Snapshot:
    n_images: int
    decode_s: float
    ocr_s: float
    wall_s: float

    @property
    def images_per_sec(self) -> float:
        return self.n_images / self.wall_s if self.wall_s > 0 else 0.0


class SpeedMeter:
    """Driver-side accumulator bundle; pass to extract_flat/extract."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.n_images = sc.accumulator(0)
        self.decode_s = sc.accumulator(0.0)
        self.ocr_s = sc.accumulator(0.0)
        self.n_errors = sc.accumulator(0)  # quarantined payloads (on_error mode)
        self._t0 = time.time()

    def snapshot(self) -> Snapshot:
        return Snapshot(
            n_images=self.n_images.value,
            decode_s=self.decode_s.value,
            ocr_s=self.ocr_s.value,
            wall_s=time.time() - self._t0,
        )


class PeriodicReporter:
    """T7: the reference prints an OCR/s + seek/s line every 5 seconds from
    its meter thread (/root/reference src/recognition/speed_meter.cpp:35-58,
    ocr.cpp:46-52). Spark analog: a daemon timer on the DRIVER that
    snapshots the accumulator bundle mid-job — accumulator values are
    readable while tasks run, so the cadence is real-time, not
    end-of-action. Interval-rate math mirrors the reference (delta since
    the previous tick, not a lifetime mean).

    Use as a context manager around an action:

        with PeriodicReporter(meter, sink=print):
            df.write...
    """

    def __init__(self, meter: SpeedMeter, interval_s: float = 5.0, sink=None):
        import threading

        self.meter = meter
        self.interval_s = interval_s
        self.sink = sink or (lambda line: print(line, flush=True))
        self.reports: list[dict] = []
        self._prev = meter.snapshot()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tick(self) -> None:
        snap = self.meter.snapshot()
        dt = snap.wall_s - self._prev.wall_s
        d_img = snap.n_images - self._prev.n_images
        rate = d_img / dt if dt > 0 else 0.0
        report = {
            "images_per_sec": round(rate, 2),
            "n_images_total": snap.n_images,
            "decode_s_total": round(snap.decode_s, 3),
            "ocr_s_total": round(snap.ocr_s, 3),
            "wall_s": round(snap.wall_s, 3),
        }
        self.reports.append(report)
        self.sink(f"[speed] {report['images_per_sec']} images/s "
                  f"({report['n_images_total']} total, {report['wall_s']}s)")
        self._prev = snap

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._tick()

    def __enter__(self) -> "PeriodicReporter":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=self.interval_s + 1)
        self._tick()  # final report so short jobs still get one line
