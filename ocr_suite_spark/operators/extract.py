"""The flagship extraction pipeline.

Reference lifecycle being re-expressed (/root/reference, SURVEY.md §3.1):
decode frames -> bounded queue -> OCR threads -> per-frame store, i.e.

    documents --explode--> spans --route by kind-->
        text path  : boilerplate-strip normalizer (pure Column exprs)
        media path : repartition on (doc_id, offset) -> mapInPandas OCR
                     (Arrow batches, per-task recognizer init ~ reference's
                     per-thread Tesseract instance, main.cpp:136-177)
    --union--> flat extracted spans --groupBy(doc_id) + sort by offset-->
    merged (kind, text, media_ref, order) sequences.

Scale notes:
- The only shuffles are the explicit media-path (doc_id, offset)
  repartition (skew defense; reference analog: LPT balancing,
  search.cpp:117-163) and the final groupBy(doc_id) merge. Catalyst
  cannot push filters through mapInPandas, so the kind=='media' filter is
  authored *upstream* of the UDF.
- No per-row Python UDFs; the recognizer runs per Arrow batch with numpy
  kernels, and text spans never leave the JVM.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import MIN_TOKEN_LEN

_FLAT_SCHEMA = "doc_id string, order int, kind string, text string, media_ref string"
_WORDS_SCHEMA = (
    "doc_id string, order int, media_ref string, word string, "
    "left int, top int, right int, bottom int, confidence float"
)


def normalize_text_col(c: Column) -> Column:
    """Column-expression twin of kernels.textnorm.normalize_text.

    ASCII-whitespace split -> drop tokens shorter than MIN_TOKEN_LEN ->
    re-join. Mirrors /root/reference util.h:13-26 + tesseract.cpp:113-115.
    No trim: the length filter drops empty edge tokens, and engine trims
    disagree on unicode whitespace (tests/test_textnorm_property.py).
    """
    toks = F.filter(
        F.split(c, r"\s+"), lambda t: F.length(t) >= MIN_TOKEN_LEN
    )
    return F.array_join(toks, " ")


def explode_spans(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id",
        F.explode("spans").alias("s"),
    ).select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")


def explode_media_meta(documents: DataFrame) -> DataFrame:
    """Media-span metadata WITHOUT the text field.

    Catalyst's nested-schema pruning does not reach through
    explode(spans)+field-select (the scan reads the whole struct,
    measured), but field extraction on the array DOES prune — so the
    media branch explodes an arrays_zip of exactly the three arrays it
    needs. At 100 TB this is the difference between the media branch
    re-reading the entire text corpus and reading ~10% of it
    (ReadSchema: spans:array<struct<kind,media_ref,offset>>).
    """
    return (
        documents.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.col("spans.kind").alias("kind"),
                    F.col("spans.media_ref").alias("media_ref"),
                    F.col("spans.offset").alias("offset"),
                )
            ).alias("s"),
        )
        .where(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.offset").alias("offset"), F.col("s.media_ref").alias("media_ref"))
    )


def make_ocr_fn(meter=None, on_error: str = "fail"):
    """Build the mapInPandas fn: (doc_id, offset, media_ref) -> + recognized
    text.

    Iterator-init idiom: the recognizer (template bank) and the ref memo are
    built once per mapInPandas task (one partition), then stream that
    partition's Arrow batches — the canonical expensive-init vectorized UDF
    pattern (SURVEY.md F1). Python worker reuse keeps the imports warm
    across tasks, not these objects. With a SpeedMeter, per-batch
    decode/recognize wall time rides back on accumulators (speed_meter
    analog, speed_meter.cpp:35-58).

    on_error:
      - 'fail' (default): any decode/recognize exception propagates — task
        retries, then the job dies. Right for correctness-graded runs.
      - 'quarantine': the span survives with text = NULL (distinguishable
        from '' = clean image with no >=3-char words) and the SpeedMeter's
        n_errors accumulator counts it. At 10^12 documents a handful of
        corrupt payloads are a certainty, and one poison row must cost one
        row, not a 1000-executor job (the reference logs-and-continues the
        same way on decoder errors, src/ffmpeg/decoder.cpp error paths).
    """
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be 'fail' or 'quarantine', got {on_error!r}")

    def _ocr_text_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels import textnorm
        from ..kernels.ocr import Recognizer
        from .memo import (
            QUARANTINED,
            BatchStats,
            RefMemo,
            drop_zip_finders,
            make_media_compute,
        )

        drop_zip_finders()  # the next task on this worker re-reads no zips
        eng = Recognizer()
        stats = BatchStats()
        memo = RefMemo(
            make_media_compute(
                lambda img: textnorm.ocr_words_to_text(
                    [w.text for w in eng.recognize(img)]
                ),
                on_error,
                stats,
            )
        )
        for pdf in batches:
            stats.reset()
            texts = [
                None if (t := memo.get(ref)) is QUARANTINED else t
                for ref in pdf["media_ref"]
            ]
            stats.flush(meter)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "order": pdf["offset"],
                    "kind": "media",
                    "text": texts,
                    "media_ref": pdf["media_ref"],
                }
            )

    return _ocr_text_batches


# default un-metered instance (used by queries and tests)
_ocr_text_batches = make_ocr_fn(None)


def make_ocr_words_fn(meter=None, on_error: str = "fail"):
    """Word-level variant of make_ocr_fn: one output row per recognized word
    with bbox + confidence (reference text_entry, ocr_result.h:14-18).

    Same hardening as the text path (it lacked both in r2): per-task
    memoization of recognized word tuples per media_ref, and
    on_error='quarantine' — a corrupt payload yields zero word rows for
    that span (counted once per distinct ref on meter.n_errors) instead of
    killing the job."""
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be 'fail' or 'quarantine', got {on_error!r}")

    def _ocr_words_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.ocr import Recognizer
        from .memo import (
            QUARANTINED,
            BatchStats,
            RefMemo,
            drop_zip_finders,
            make_media_compute,
        )

        drop_zip_finders()  # the next task on this worker re-reads no zips
        eng = Recognizer()
        stats = BatchStats()
        memo = RefMemo(
            make_media_compute(
                lambda img: [
                    (w.text, w.left, w.top, w.right, w.bottom, w.confidence)
                    for w in eng.recognize(img)
                    # provider min-length filter, tesseract.cpp:113-115
                    if len(w.text.strip()) >= MIN_TOKEN_LEN
                ],
                on_error,
                stats,
            )
        )
        for pdf in batches:
            rows = []
            stats.reset()
            for doc_id, offset, ref in zip(pdf["doc_id"], pdf["offset"], pdf["media_ref"]):
                words = memo.get(ref)
                if words is QUARANTINED:
                    continue  # span contributes no word rows
                for w in words:
                    rows.append((doc_id, offset, ref, *w))
            stats.flush(meter)
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "order", "media_ref", "word",
                    "left", "top", "right", "bottom", "confidence",
                ],
            )

    return _ocr_words_batches


def _salted(media: DataFrame, salt_partitions: int | None) -> DataFrame:
    """Explicit skew defense: hash-partition media spans on (doc_id, offset)
    before the expensive UDF, so each span of a hot document lands
    independently instead of the whole document pinning one partition —
    the 100TB analog of the reference's largest-video problem (which it
    LPT-balances by file size, search.cpp:117-163).

    Each row's (doc_id, offset) is hashed straight onto the partitions.
    Do not fold rows into a few salt values first (e.g.
    pmod(xxhash64(doc_id, offset), n*4)): hashing a few values onto n
    partitions is a fixed, lumpy map. On 4 slots 16 salt values landed
    [6, 6, 3, 1], so two tasks carried 1.5x their share while two slots
    idled. Per-row hashing lands within a few percent of even
    (tests/test_extract.py).

    One shuffle into one task per slot (defaultParallelism), unless
    salt_partitions overrides it: with even partitions one wave finishes
    together, and more tasks only add fixed cost. The count is not sized
    from Catalyst's sizeInBytes estimate: that scales with file bytes and
    cannot see the kind='media' filter, so it over-decomposes text-heavy
    input. AQE coalescing is NOT used here on purpose: it targets
    partition bytes, and these rows are bytes-tiny but compute-heavy.
    """
    n = salt_partitions or media.sparkSession.sparkContext.defaultParallelism
    return media.repartition(n, "doc_id", "offset")


def extract_flat(
    documents: DataFrame,
    salt_partitions: int | None = None,
    meter=None,
    on_error: str = "fail",
) -> DataFrame:
    """documents -> flat extracted spans (doc_id, order, kind, text, media_ref).

    on_error='quarantine' lets corrupt media payloads survive as NULL-text
    spans (counted on meter.n_errors) instead of failing the job — see
    make_ocr_fn."""
    ex = explode_spans(documents)
    text_out = ex.where(F.col("kind") == "text").select(
        "doc_id",
        F.col("offset").alias("order"),
        F.lit("text").alias("kind"),
        normalize_text_col(F.col("text")).alias("text"),
        F.col("media_ref"),
    )
    media_in = explode_media_meta(documents)  # pruned scan: no text field
    media_out = _salted(media_in, salt_partitions).mapInPandas(
        make_ocr_fn(meter, on_error=on_error), schema=_FLAT_SCHEMA
    )
    return text_out.unionByName(media_out)


def merge_spans(flat: DataFrame) -> DataFrame:
    """Re-merge extracted spans into per-document ordered sequences —
    the graft's span-sequence invariant (kind, text, media_ref, order).

    Reference analog: OCR results keyed by frame_number flow back into the
    per-video store preserving sequence (ocr.cpp:73-76 -> database.cpp:85-98).
    """
    by_offset = F.struct(
        F.col("order"), F.col("kind"), F.col("text"), F.col("media_ref")
    )
    return flat.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(F.collect_list(by_offset)),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["order"].alias("order"),
            ),
        ).alias("spans")
    )


def extract(
    documents: DataFrame,
    salt_partitions: int | None = None,
    meter=None,
    on_error: str = "fail",
) -> DataFrame:
    """Full pipeline: documents -> merged (kind, text, media_ref, order) sequences."""
    return merge_spans(
        extract_flat(documents, salt_partitions, meter=meter, on_error=on_error)
    )


def extract_words(
    documents: DataFrame,
    salt_partitions: int | None = None,
    meter=None,
    on_error: str = "fail",
) -> DataFrame:
    """Word-level OCR output with bboxes (reference ocr_result entries)."""
    media_in = explode_media_meta(documents)  # pruned scan: no text field
    return _salted(media_in, salt_partitions).mapInPandas(
        make_ocr_words_fn(meter, on_error=on_error), schema=_WORDS_SCHEMA
    )
