"""Tests of the benchmark itself: seeded inputs are reproducible, and the
trace arithmetic is right. Uses the smoke sizes; runs in seconds.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.run import tail  # noqa: E402
from perfbench.trace import Span, Tracer, critical_and_overlap, self_time, union_length  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _generate(root: str, seed: int) -> None:
    tab = WORKLOADS["ingest_tabular"].SIZES["smoke"]
    media = WORKLOADS["ingest_media"].SIZES["smoke"]
    corpus = WORKLOADS["corpus_refresh"].SIZES["smoke"]
    n_corpus = 1 + WORKLOADS["corpus_refresh"].max_passes
    gen.tabular_manifests(os.path.join(root, "tab"), seed, tab["batches"], tab["rows"])
    gen.media_batches(os.path.join(root, "media"), seed, media["batches"], media["rows"])
    gen.corpus_batches(
        os.path.join(root, "corpus"), seed, n_corpus, corpus["docs"], corpus["vecs"]
    )


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    _generate(str(tmp_path / "c"), 8)
    a, b, c = (_files(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    differ = [k for k in a if a[k] != c.get(k)]
    assert len(differ) > len(a) // 2  # another seed changes nearly every file


def test_tabular_generator_counts(tmp_path):
    batches = gen.tabular_manifests(str(tmp_path), 3, 3, 400)
    stored: set[int] = set()
    for i, b in enumerate(batches):
        with open(b.path) as fh:
            lines = fh.read().splitlines()[1:]
        keys = [ln.split(",")[0] for ln in lines]
        present = [int(k) for k in keys if k not in gen.NA_SENTINELS]
        assert len(lines) == b.rows == 400
        assert b.blank_keys == 400 - len(present) > 0
        assert b.dup_rows == len(present) - len(set(present)) > 0
        assert b.keys == sorted(set(present))
        overlap = len(set(b.keys) & stored) / len(b.keys)
        assert overlap == 0 if i == 0 else 0.4 < overlap < 0.6
        stored |= set(b.keys)


def test_media_headers_parse(tmp_path):
    from data_ingestors_spark.validators.files import _check_voc_xml, _decode_dims

    (b,) = gen.media_batches(str(tmp_path), 1, 1, 5)
    for stem in b.stems:
        with open(os.path.join(b.src, "images", stem + ".jpg"), "rb") as fh:
            assert _decode_dims(fh.read())[:2] == gen.IMAGE_SIZE
        with open(os.path.join(b.src, "annotations", stem + ".xml"), "rb") as fh:
            assert _check_voc_xml(fh.read()) == []


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, 0)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3), (4, 5)]) == pytest.approx(10)
    assert union_length([(3, 4), (0, 1), (1, 2)]) == pytest.approx(3)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, 0.0, 10.0)
    # three concurrent folds covering [1, 6] and [7, 8]; one child leaks past the end
    kids = [_span(1, 1, 4, 0), _span(2, 2, 6, 0), _span(3, 3, 5, 0), _span(4, 7, 12, 0)]
    assert self_time(parent, kids) == pytest.approx(10 - 5 - 3)
    assert self_time(parent, []) == pytest.approx(10)


def test_critical_fold_and_overlap():
    folds = [_span(1, 0, 4), _span(2, 0, 2), _span(3, 1, 3)]
    crit, overlap = critical_and_overlap(folds)
    assert crit == pytest.approx(4)
    assert overlap == pytest.approx((4 + 2 + 2) / 4)
    crit, overlap = critical_and_overlap([_span(1, 0, 1), _span(2, 1, 3)])
    assert (crit, overlap) == (pytest.approx(2), pytest.approx(1.0))
    assert critical_and_overlap([]) == (0.0, 0.0)


def test_tracer_parents_pool_threads_to_the_open_span():
    from concurrent.futures import ThreadPoolExecutor

    t = Tracer()
    t.enabled = True
    leaf = t.wrap(lambda: None, "leaf")
    with t.span("root") as root:
        with ThreadPoolExecutor(2) as pool:
            for f in [pool.submit(leaf) for _ in range(4)]:
                f.result()
    assert [s.parent for s in t.spans if s.name == "leaf"] == [root.id] * 4
    assert len(t.children(root)) == 4
    t.enabled = False
    with t.span("ignored"):
        pass
    assert len(t.spans) == 5


def test_tail():
    assert tail([]) == (0.0, 0.0, 0)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in xs if x > value) == 10


def test_tpch_tables_are_shipped():
    from data_ingestors_spark.io.readers import TABLES
    from perfbench.workloads import DATA, TpchQueries

    for sf in {*(s["data"] for s in TpchQueries.SIZES.values()), "sf0.001"}:
        for t in TABLES:
            assert os.path.isfile(os.path.join(DATA, sf, f"{t}.parquet")), (sf, t)
