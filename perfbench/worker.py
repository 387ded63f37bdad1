"""One Spark driver process of a benchmark run.

``run.py`` starts this file as a fresh process (so set-up is measured from
process start) with a JSON config path, and reads back the JSON result it
writes. Roles:

- ``flagship``: timed ``extract`` to a noop sink over fresh slices.
- ``setup``: set-up only, for more samples of set-up time.
- ``traced``: every layer measurement, with the event log and SpeedMeter
  on, including the checkpointed job path and the query loop.

Every call into the program goes through its public entry points:
``session.get_spark``, ``operators.extract``, ``progress`` and
``queries.extraction.like_search``.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import sys
import time

ORACLE_SAMPLE = 48  # docs compared exactly against the pandas oracle
N_QUERIES = 100  # p90 of 100 samples has 10 beyond it
N_BUCKETS, BUCKET_GROUPS = 64, 8  # jobs/extract_job.py defaults
STOP_AFTER_GROUPS = BUCKET_GROUPS // 2
RUN_ID = "bench"


# ---------------------------------------------------------------- session


def _warm_fn(batches):
    from ocr_suite_spark.kernels.ocr import Recognizer

    Recognizer()
    yield from batches


def start_session(cfg: dict, event_log: bool):
    """get_spark, then one job that brings up a Python worker with a
    Recognizer on every slot. Returns (spark, start_s, warm_s)."""
    from ocr_suite_spark.session import get_spark

    work = cfg["work"]
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # keep the JVM's temp files (and no hsperfdata) inside the run's directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.executorEnv.PYTHONPATH": os.environ.get("PYTHONPATH", ""),
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        extra.update(
            {
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.time()
    spark = get_spark(cores=cfg["cores"], app="ocs-bench", driver_memory="2g", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    n = cfg["cores"]
    spark.range(0, n, 1, n).mapInPandas(_warm_fn, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    return spark, t1 - t0, time.time() - t1


def read_docs(spark, path: str):
    from ocr_suite_spark import tableio
    from ocr_suite_spark.schema import DOCUMENTS

    return tableio.read_table(spark, path, schema=DOCUMENTS)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- checks


class Checks:
    """Correctness gate: counts checked items and the ones that were wrong."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def expect(self, ok: bool, note: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(note)


def _spans_of(rows) -> dict[str, list[tuple]]:
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]]
        for r in rows
    }


def expected_spans(docs: list[tuple], corrupt: set[str]) -> dict[str, list[tuple]]:
    """Oracle output for ``docs``; a corrupt ref must come out as NULL text."""
    import pandas as pd

    from ocr_suite_spark import oracle

    keys = ("kind", "text", "media_ref", "offset")
    clean = [
        [dict(zip(keys, s)) for s in spans if s[2] not in corrupt] for _, spans in docs
    ]
    exp = oracle.extract_pandas(pd.DataFrame({"doc_id": [d for d, _ in docs], "spans": clean}))
    for d, spans in docs:
        exp[d] = sorted(
            exp[d] + [("media", None, s[2], s[3]) for s in spans if s[2] in corrupt],
            key=lambda r: r[3],
        )
    return exp


def check_output(checks: Checks, docs: list[tuple], rows, seed: int, corrupt: set[str]) -> None:
    """Doc count, an exact oracle sample, and (with corrupt refs) that the
    NULL-text media spans are exactly the injected ones."""
    got = _spans_of(rows)
    checks.expect(
        len(rows) == len(docs) and set(got) == {d for d, _ in docs},
        f"doc count {len(rows)} != input {len(docs)}",
    )
    sample = random.Random(seed).sample(docs, min(ORACLE_SAMPLE, len(docs)))
    exp = expected_spans(sample, corrupt)
    for d, _ in sample:
        checks.expect(got.get(d) == exp[d], f"doc {d} differs from the oracle")
    for spans in got.values():
        for kind, text, ref, _ in spans:
            if kind == "media":
                checks.expect(
                    (text is None) == (ref in corrupt), f"media {ref} has the wrong quarantine status"
                )


def _like_regex(pattern: str):
    return re.compile(
        "".join(".*" if c == "%" else "." if c == "_" else re.escape(c) for c in pattern),
        re.DOTALL,
    )


def expected_matches(got: dict[str, list[tuple]], pattern: str) -> dict[str, tuple]:
    rx = _like_regex(pattern)
    out = {}
    for doc, spans in got.items():
        hits = [
            s[3]
            for s in spans
            if s[0] == "media" and s[1] is not None
            for w in s[1].split(" ")
            if rx.fullmatch(w)
        ]
        if hits:
            out[doc] = (len(hits), min(hits))
    return out


# ---------------------------------------------------------------- phases


def doc_stats(docs: list[tuple]) -> dict:
    spans = [s for _, sp in docs for s in sp]
    media = [s[2] for s in spans if s[0] == "media"]
    return {
        "docs": len(docs),
        "spans": len(spans),
        "media": len(media),
        "distinct_refs": len(set(media)),
    }


def timed_extract(spark, path: str, meter=None) -> float:
    from ocr_suite_spark.operators import extract as X

    t0 = time.perf_counter()
    noop(X.extract(read_docs(spark, path), meter=meter))
    return time.perf_counter() - t0


def verify_slice(spark, checks, workload, path, docs, seed) -> None:
    """Untimed extract of one slice, collected and checked; on media_unique
    the meter must have seen each distinct ref exactly once."""
    from ocr_suite_spark.metrics import SpeedMeter
    from ocr_suite_spark.operators import extract as X

    meter = SpeedMeter(spark)
    rows = X.extract(read_docs(spark, path), meter=meter).collect()
    check_output(checks, docs, rows, seed, set())
    if workload == "media_unique":
        n, want = meter.n_images.value, doc_stats(docs)["distinct_refs"]
        checks.expect(n == want, f"meter n_images {n} != distinct refs {want}")


def flagship_reps(spark, paths, rows) -> dict:
    """One timed extract per slice; medians of the per-slice rates."""
    walls, dps, sps = [], [], []
    for path, docs in zip(paths, rows):
        w = timed_extract(spark, path)
        st = doc_stats(docs)
        walls.append(w)
        dps.append(st["docs"] / w)
        sps.append(st["spans"] / w)
    return {
        "docs_per_s": statistics.median(dps),
        "spans_per_s": statistics.median(sps),
        "reps": len(walls),
        "walls": walls,
    }


class Poller:
    """``stop_requested`` hook: records each poll and stops after N."""

    def __init__(self, stop_after: int | None) -> None:
        self.stop_after = stop_after
        self.polls: list[float] = []

    def __call__(self) -> bool:
        self.polls.append(time.time())
        return self.stop_after is not None and len(self.polls) > self.stop_after


def job_path(spark, cfg, docs_path: str, meter, tag) -> dict:
    """First pass stopped after half the groups, resume, no-op re-run."""
    from ocr_suite_spark.progress import extract_resumable

    out_dir, ckpt = f"{cfg['work']}/job/out", f"{cfg['work']}/job/ckpt"
    docs = read_docs(spark, docs_path)
    res = {}
    for call, stop_after in (("first_pass", STOP_AFTER_GROUPS), ("resume", None), ("noop_rerun", None)):
        poll = Poller(stop_after)
        with tag(f"job.{call}"):
            t0 = time.time()
            extract_resumable(
                spark, docs, out_dir, ckpt, run_id=RUN_ID, n_buckets=N_BUCKETS,
                bucket_groups=BUCKET_GROUPS, on_error="quarantine", meter=meter,
                stop_requested=poll,
            )
            t1 = time.time()
        res[call] = {"wall": t1 - t0, "bounds": poll.polls + ([t1] if stop_after is None else [])}
    res["out_dir"], res["ckpt"] = out_dir, ckpt
    return res


def check_job_output(spark, checks, out_dir, job_docs, seed, corrupt) -> list:
    from ocr_suite_spark import tableio

    rows = tableio.read_table(spark, out_dir).collect()
    ids = [r["doc_id"] for r in rows]
    checks.expect(len(ids) == len(set(ids)), f"{len(ids) - len(set(ids))} duplicated docs in job output")
    check_output(checks, job_docs, rows, seed, corrupt)
    return rows


def run_queries(spark, checks, out_dir, got, seed, tag) -> tuple[list[float], int]:
    """Closed loop, one client: seeded like_search patterns over the
    written table, each result checked against the collected output.
    Returns the latencies and the total number of result rows."""
    from pyspark.sql import functions as F

    from ocr_suite_spark import tableio
    from ocr_suite_spark.datagen import MEDIA_WORDS
    from ocr_suite_spark.queries.extraction import like_search

    flat = (
        tableio.read_table(spark, out_dir)
        .select("doc_id", F.explode("spans").alias("s"))
        .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.order")
    )
    rng = random.Random(f"queries/{seed}")
    lat, n_rows = [], 0
    for _ in range(N_QUERIES):
        w = rng.choice(MEDIA_WORDS)
        pattern = rng.choice((f"{w[:3]}%", w, f"%{w[-3:]}", f"{w[:2]}_%"))
        with tag("query"):
            t0 = time.perf_counter()
            res = like_search(flat, pattern).collect()
            lat.append(time.perf_counter() - t0)
        n_rows += len(res)
        want = expected_matches(got, pattern)
        have = {r["doc_id"]: (r["n_matches"], r["first_order"]) for r in res}
        checks.expect(have == want, f"like_search({pattern!r}) differs")
    return lat, n_rows


# ---------------------------------------------------------------- roles


def role_flagship(cfg, spark, rows, paths, checks, out) -> None:
    """Two warm-up extracts (the first also checked), then the timed ones."""
    verify_slice(spark, checks, cfg["workload"], paths[0], rows[0], cfg["seed"])
    timed_extract(spark, paths[1])
    out.update(flagship_reps(spark, paths[2:], rows[2:]))


def role_traced(cfg, spark, rows, paths, checks, out) -> None:
    """Layer measurements. ``paths`` layout (run.slices_for): warm and two
    untraced repetitions; then the session restarts with the event log on:
    warm, explode, extract_flat, extract x2, and the job table."""
    import gen
    import hostprobe
    import tracing
    from ocr_suite_spark.metrics import SpeedMeter
    from ocr_suite_spark.operators import extract as X

    tr = tracing.Tracer()
    with tr.span("untraced"):
        verify_slice(spark, checks, cfg["workload"], paths[0], rows[0], cfg["seed"])
        untraced = flagship_reps(spark, paths[1:3], rows[1:3])

    spark.stop()
    spark, _, _ = start_session(cfg, event_log=True)

    def tag(desc):
        return tracing.job_description(spark, desc)

    with tr.span("warm"):
        timed_extract(spark, paths[3])
    walls, snaps = [], []
    with tr.span("flagship"):
        with tr.span("extract.explode"), tag("explode"):
            d = read_docs(spark, paths[4])
            t0 = time.perf_counter()
            noop(X.explode_spans(d))
            noop(X.explode_media_meta(d))
            explode_s = time.perf_counter() - t0
        with tr.span("extract.flat"), tag("flat"):
            t0 = time.perf_counter()
            noop(X.extract_flat(read_docs(spark, paths[5])))
            flat_s = time.perf_counter() - t0
        for k in range(2):
            meter = SpeedMeter(spark)
            with tr.span("extract"), tag(f"extract.{k}"):
                walls.append(timed_extract(spark, paths[6 + k], meter=meter))
            snaps.append(meter.snapshot())
            if cfg["workload"] == "media_unique":  # fresh slice: every image is new
                n, want = snaps[-1].n_images, doc_stats(rows[6 + k])["distinct_refs"]
                checks.expect(n == want, f"meter n_images {n} != distinct refs {want}")

    with tr.span("kernels"):
        refs = sorted({s[2] for _, sp in rows[6] + rows[7] for s in sp if s[0] == "media"})
        kernels = hostprobe.kernel_split_ms(random.Random(cfg["seed"]).sample(refs, min(48, len(refs))))

    with tr.span("job"):
        job = job_path(spark, cfg, paths[8], meter=SpeedMeter(spark), tag=tag)
        corrupt = gen.corrupt_refs(rows[8])
        with tr.span("job.verify"):
            got = _spans_of(
                check_job_output(spark, checks, job["out_dir"], rows[8], cfg["seed"], corrupt)
            )
        job["done_buckets_s"], job["read_s"] = _progress_reads(spark, job)
    with tr.span("queries"):
        lat, n_result_rows = run_queries(spark, checks, job["out_dir"], got, cfg["seed"], tag=tag)

    spark.stop()  # flushes the event log
    (log,) = os.listdir(f"{cfg['work']}/eventlog")
    ev = tracing.EventLog(f"{cfg['work']}/eventlog/{log}")

    layers = dict(kernels)
    per = [flagship_layers(ev, f"extract.{k}", walls[k], snaps[k], cfg["cores"]) for k in range(2)]
    for key in per[0]:
        layers[key] = statistics.median(p[key] for p in per)
    fresh = sum(m.n_images for m in snaps)
    layers["memo.fresh_images"] = fresh / 2
    layers["memo.hit_ratio"] = 1 - fresh / sum(doc_stats(rows[6 + k])["media"] for k in range(2))
    layers["extract.explode_s"] = explode_s
    layers["extract.flat_s"] = flat_s
    layers["extract.wall_s"] = statistics.median(walls)
    layers["extract.merge_s"] = layers["extract.wall_s"] - flat_s
    dps_traced = statistics.median(len(rows[6 + k]) / walls[k] for k in range(2))
    layers["flagship.untraced_docs_per_s"] = untraced["docs_per_s"]
    layers["trace.overhead_frac"] = untraced["docs_per_s"] / dps_traced - 1
    for k, v in ev.counts("extract.0").items():
        layers[f"spark.{k}.extract"] = v
    layers.update(job_layers(ev, job, len(rows[8])))
    lat_ms = sorted(x * 1e3 for x in lat)
    layers["query.p50_ms"] = statistics.median(lat_ms)
    layers["query.p90_ms"] = statistics.quantiles(lat_ms, n=10)[8]
    layers["query.samples"] = len(lat_ms)
    scanned = sum(t["in_rows"] for s in ev.stages_of("query") for t in s["task_list"])
    layers["query.rows_scanned_per_match"] = scanned / max(1, n_result_rows)
    for k, v in ev.counts("query").items():
        layers[f"spark.{k}.query"] = v / N_QUERIES
    out["layers"] = layers
    out["spans"] = tr.spans


def _progress_reads(spark, job) -> tuple[float, float]:
    """Median of 3 timings of ProgressStore.done_buckets(...).count() and of
    read_table(...).count() over the written output."""
    from ocr_suite_spark import tableio
    from ocr_suite_spark.progress import ProgressStore

    store = ProgressStore(spark, job["ckpt"])
    done_s, read_s = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        store.done_buckets(RUN_ID).count()
        done_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        tableio.read_table(spark, job["out_dir"]).count()
        read_s.append(time.perf_counter() - t0)
    return statistics.median(done_s), statistics.median(read_s)


def job_layers(ev, job: dict, n_docs: int) -> dict:
    """Job-path layers: call walls, group durations between stop_requested
    polls, Spark work per call, and the written table's shape."""
    layers, data_groups, empty_groups = {}, [], []
    for call in ("first_pass", "resume", "noop_rerun"):
        b = job[call]["bounds"]
        durs = [e - s for s, e in zip(b, b[1:])]
        if call == "first_pass":
            data_groups += durs
        elif call == "resume":  # the first half was committed by first_pass
            empty_groups += durs[:STOP_AFTER_GROUPS]
            data_groups += durs[STOP_AFTER_GROUPS:]
        else:
            empty_groups += durs
        layers[f"job.{call}_s"] = job[call]["wall"]
        for k, v in ev.counts(f"job.{call}").items():
            layers[f"spark.{k}.{call}"] = v
    layers["progress.group_p50_s"] = statistics.median(data_groups)
    layers["progress.group_max_s"] = max(data_groups)
    layers["progress.empty_group_s"] = statistics.median(empty_groups)
    layers["progress.done_buckets_s"] = job["done_buckets_s"]
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(job["out_dir"])
        for f in fs
        if f.endswith(".parquet")
    ]
    layers["tableio.files"] = len(files)
    layers["tableio.out_bytes_per_doc"] = sum(os.path.getsize(f) for f in files) / n_docs
    layers["tableio.read_s"] = job["read_s"]
    return layers


def flagship_layers(ev, desc: str, wall: float, snap, cores: int) -> dict:
    """Split one traced extract call by its Spark stages.

    The OCR stage is the one running MapInPandas; its tasks that read no
    table input are the salted OCR tasks (the text branch shares the stage
    through the union and reads the table). Wall time is attributed to the
    most downstream stage running at each instant (merge > OCR > scan);
    what no stage covers is driver-side time, reported as unattributed.
    """
    stages = ev.stages_of(desc)
    (ocr,) = [s for s in stages if "MapInPandas" in s["scopes"]]
    ocr_tasks = [t for t in ocr["task_list"] if t["in_rows"] == 0]
    core_s = sum(t["run_s"] for t in ocr_tasks)
    ocr_wall = max(t["end"] for t in ocr_tasks) - min(t["start"] for t in ocr_tasks)
    runs = sorted(t["run_s"] for t in ocr_tasks)
    cat = {s["id"]: 0 if s["id"] < ocr["id"] else 1 if s["id"] == ocr["id"] else 2 for s in stages}
    edges = sorted({x for s in stages for x in (s["start"], s["end"])})
    busy = [0.0, 0.0, 0.0]
    for a, b in zip(edges, edges[1:]):
        live = [cat[s["id"]] for s in stages if s["start"] <= a and s["end"] >= b]
        if live:
            busy[max(live)] += b - a
    return {
        "extract.salt_tasks": len(ocr_tasks),
        "extract.salt_shuffle_bytes": sum(t["shuffle_read_bytes"] for t in ocr_tasks),
        "extract.merge_shuffle_bytes": sum(t["shuffle_write_bytes"] for t in ocr["task_list"]),
        "extract.ocr_stage_core_s": core_s,
        "extract.ocr_stage_util": core_s / (ocr_wall * cores),
        "extract.ocr_task_skew": runs[-1] / statistics.median(runs),
        "extract.arrow_s": core_s - (snap.decode_s + snap.ocr_s),
        "extract.meter_decode_s": snap.decode_s,
        "extract.meter_ocr_s": snap.ocr_s,
        "extract.scan_stage_s": busy[0],
        "extract.ocr_stage_s": busy[1],
        "extract.merge_stage_s": busy[2],
        "unattributed_s": wall - sum(busy),
    }


ROLES = {"flagship": role_flagship, "traced": role_traced}


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    import gen

    spark, start_s, warm_s = start_session(cfg, event_log=False)
    out = {"setup_s": time.time() - cfg["t_spawn"], "start_s": start_s, "warm_s": warm_s}
    if cfg["role"] == "setup":
        _finish(cfg, out)
    t0 = time.time()
    rows = gen.generate(cfg["workload"], cfg["seed"], cfg["slices"], job_table=cfg["role"] == "traced")
    paths = gen.write_slices(spark, rows, f"{cfg['work']}/input")
    out["gen_s"] = time.time() - t0
    checks = Checks()
    ROLES[cfg["role"]](cfg, spark, rows, paths, checks, out)
    out["role_s"] = time.time() - t0 - out["gen_s"]
    out.update(attempted=checks.attempted, failed=checks.failed, notes=checks.notes)
    _finish(cfg, out)


def _finish(cfg, out) -> None:
    """Write the result and exit at once: run.py stops the JVM and the
    Python workers with this process group, which is faster than a
    graceful shutdown and not part of any measurement."""
    with open(cfg["out"], "w") as f:
        json.dump(out, f)
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1])
