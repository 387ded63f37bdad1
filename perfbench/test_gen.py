"""Tests of the benchmark's input generator.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402

SIZES = [50, 120, 120]


def _refs(rows) -> set[str]:
    return {s[2] for sl in rows for _, spans in sl for s in spans if s[0] == "media"}


@pytest.mark.parametrize("workload", sorted(gen.SHAPES))
def test_same_seed_same_rows(workload):
    assert gen.generate(workload, 7, SIZES, job_table=True) == gen.generate(
        workload, 7, SIZES, job_table=True
    )
    assert gen.generate(workload, 7, SIZES) != gen.generate(workload, 8, SIZES)


def test_media_unique_refs_distinct_within_and_across_seeds():
    a, b = gen.generate("media_unique", 1, SIZES), gen.generate("media_unique", 2, SIZES)
    n_a = sum(1 for sl in a for _, spans in sl for s in spans if s[0] == "media")
    assert len(_refs(a)) == n_a  # no ref repeats inside one table
    assert not _refs(a) & _refs(b)


def test_text_dense_shape():
    (sl,) = gen.generate("text_dense", 3, [2000])
    refs = [s[2] for _, spans in sl for s in spans if s[0] == "media"]
    assert len(set(refs)) <= gen.POOL_REFS
    docs_with_media = sum(any(s[0] == "media" for s in spans) for _, spans in sl)
    assert 0.05 < docs_with_media / len(sl) < 0.15


def test_job_table_corrupt_refs_only_in_last_slice():
    from ocr_suite_spark.kernels.render import parse_media_ref

    rows = gen.generate("media_unique", 5, SIZES, job_table=True)

    def bad(sl):
        out = []
        for _, spans in sl:
            for s in spans:
                if s[0] == "media":
                    try:
                        parse_media_ref(s[2])
                    except ValueError:
                        out.append(s[2])
        return out

    n_media = sum(1 for _, spans in rows[-1] for s in spans if s[0] == "media")
    assert len(bad(rows[-1])) == max(1, round(gen.CORRUPT_FRAC * n_media))
    assert not bad(rows[0]) and not bad(rows[1])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from ocr_suite_spark.session import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark(
        cores=2,
        app="perfbench-gen-test",
        driver_memory="1g",
        extra={"spark.local.dir": str(tmp), "spark.sql.warehouse.dir": str(tmp / "wh")},
    )
    yield s
    s.stop()


def test_written_tables_match_rows(spark, tmp_path):
    from ocr_suite_spark import tableio
    from ocr_suite_spark.schema import DOCUMENTS

    rows = gen.generate("media_unique", 11, [30, 40])
    for root in (tmp_path / "a", tmp_path / "b"):
        paths = gen.write_slices(spark, rows, str(root))
        for path, sl in zip(paths, rows):
            df = tableio.read_table(spark, path)
            assert df.schema.simpleString() == DOCUMENTS.simpleString()  # parquet drops NOT NULL
            got = sorted(
                (r["doc_id"], [tuple(s) for s in r["spans"]]) for r in df.collect()
            )
            assert got == sorted(sl)
