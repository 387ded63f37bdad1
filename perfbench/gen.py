"""Seeded input tables for the extraction benchmark.

Every table is a ``schema.DOCUMENTS`` table written through ``tableio``.
Rows come from ``random.Random`` seeded with (workload, seed), so the same
seed gives the same tables on any host and any Spark parallelism; Spark
only performs the write.

Workload shapes (see BENCHMARK.json for why each exists):

- ``media_unique``: short text spans, about 2 media spans per doc, one doc
  in 20 media-heavy (5-7 words per image). Every ``media_ref`` is distinct,
  within a table and across seeds: the render noise field carries
  ``seed * REF_STRIDE + serial``.
- ``text_dense``: text spans about 8x longer; media on one doc in 10, drawn
  from a seeded pool of ``POOL_REFS`` refs.

With ``job_table=True`` the last slice is the table the checkpointed job
path reads, and ``CORRUPT_FRAC`` of its media spans are replaced by refs
that cannot be resolved, so quarantine has work to do.

A table is a list of *slices*: separate tables with disjoint doc ids and
(except on ``text_dense``) disjoint refs, so each timed repetition in one
session reads input that no earlier repetition has seen.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from ocr_suite_spark.datagen import MEDIA_WORDS
from ocr_suite_spark.kernels.render import SKEW_SET, make_media_ref

# Text vocabulary: the media words plus short tokens that the
# min-length normalizer must drop.
TEXT_WORDS = MEDIA_WORDS + ["a", "an", "of", "to", "in", "is", "it", "be", "on", "at"]

REF_STRIDE = 10_000_000  # refs per seed before two seeds could collide
POOL_REFS = 32
CORRUPT_FRAC = 0.002
HOT_DOC_EVERY = 20
# fixed, so a slice reads the same at any reader parallelism
FILES_PER_SLICE = 8


@dataclass(frozen=True)
class Shape:
    text_tokens: tuple[int, int]  # tokens per text span (inclusive range)
    media_doc_every: int  # 1 in this many docs carries media
    hot: bool  # media-heavy docs exist
    pooled: bool  # refs drawn from a shared pool instead of all distinct


SHAPES = {
    "media_unique": Shape((3, 8), 1, True, False),
    "text_dense": Shape((24, 64), 10, False, True),
}


CORRUPT_PREFIX = "img://v1/CORRUPT-"


def corrupt_ref(seed: int, serial: int) -> str:
    """A ref that parses as no known media scheme: resolving it raises."""
    return f"{CORRUPT_PREFIX}{seed}-{serial}"


def corrupt_refs(docs: list[tuple]) -> set[str]:
    return {s[2] for _, spans in docs for s in spans if s[0] == "media" and s[2].startswith(CORRUPT_PREFIX)}


def _media_ref(rng: random.Random, n_words: int, noise: int) -> str:
    words = [rng.choice(MEDIA_WORDS) for _ in range(n_words)]
    return make_media_ref(words, rng.choice(SKEW_SET), noise)


def _doc(rng, shape, doc_id, next_ref) -> tuple[str, list[dict]]:
    hot = shape.hot and rng.randrange(HOT_DOC_EVERY) == 0
    n_text = rng.randint(4, 6) if hot else rng.randint(2, 4)
    lo, hi = shape.text_tokens
    spans = []
    for _ in range(n_text):
        text = " ".join(rng.choices(TEXT_WORDS, k=rng.randint(lo, hi)))
        spans.append({"kind": "text", "text": text, "media_ref": None})
    if rng.randrange(shape.media_doc_every) == 0:
        n_media = n_text if hot else rng.choice((1, 2, 2, 3))
        for _ in range(n_media):
            ref = next_ref(rng.randint(5, 7) if hot else rng.randint(2, 4))
            pos = rng.randint(0, len(spans))
            spans.insert(pos, {"kind": "media", "text": None, "media_ref": ref})
    offset = 0
    for s in spans:  # monotone, not dense: gaps of 1-3
        offset += rng.randint(1, 3)
        s["offset"] = offset
    return doc_id, spans


def generate(
    workload: str, seed: int, slice_docs: list[int], job_table: bool = False
) -> list[list[tuple]]:
    """Rows of each slice, as ``(doc_id, spans)`` tuples in DOCUMENTS order.

    With ``job_table``, corrupt refs replace exactly
    ``max(1, round(CORRUPT_FRAC * media spans))`` spans of the last slice.
    """
    shape = SHAPES[workload]
    rng = random.Random(f"{workload}/{seed}")
    serial = [0]

    def fresh_ref(n_words: int) -> str:
        serial[0] += 1
        assert serial[0] < REF_STRIDE
        return _media_ref(rng, n_words, seed * REF_STRIDE + serial[0])

    if shape.pooled:
        pool = [fresh_ref(rng.randint(2, 4)) for _ in range(POOL_REFS)]

        def next_ref(_n_words: int) -> str:
            return rng.choice(pool)
    else:
        next_ref = fresh_ref

    slices = [
        [_doc(rng, shape, f"s{i:02d}-{j:06d}", next_ref) for j in range(n)]
        for i, n in enumerate(slice_docs)
    ]
    if job_table:
        media = [s for _, spans in slices[-1] for s in spans if s["kind"] == "media"]
        n_bad = max(1, round(CORRUPT_FRAC * len(media)))
        for k, s in enumerate(rng.sample(media, n_bad)):
            s["media_ref"] = corrupt_ref(seed, k)
    return [
        [(d, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]) for d, spans in sl]
        for sl in slices
    ]


def write_slices(spark, rows: list[list[tuple]], root: str) -> list[str]:
    """Write every slice in one job, one DOCUMENTS table per ``slice=<i>``
    directory; returns the slice paths."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ocr_suite_spark import tableio
    from ocr_suite_spark.schema import DOCUMENTS

    keys = ("kind", "text", "media_ref", "offset")
    pdf = pd.DataFrame(
        {
            "doc_id": [d for sl in rows for d, _ in sl],
            "spans": [[dict(zip(keys, s)) for s in spans] for sl in rows for _, spans in sl],
            "slice": [i for i, sl in enumerate(rows) for _ in sl],
        }
    )
    schema = T.StructType(DOCUMENTS.fields + [T.StructField("slice", T.IntegerType(), False)])
    file_of = F.pmod(F.xxhash64("doc_id"), F.lit(FILES_PER_SLICE))
    df = spark.createDataFrame(pdf, schema).repartition(FILES_PER_SLICE * len(rows), "slice", file_of)
    tableio.write_table(df, root, mode="overwrite", partition_by=["slice"])
    return [f"{root}/slice={i}" for i in range(len(rows))]
