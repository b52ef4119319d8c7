"""The shared query-shape helpers: the span fold (plans.dedup._dup_spans)
and the Lloyd centroid mean (operators.vectors.centroid_means) against
pure-Python references on tiny hand-built frames, a static guard that
keeps each shape in its one helper, and the near-dup queries that pin
a reused frame re-run in one session after a corpus edit."""

from __future__ import annotations

import ast
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from elt_data4transformation_spark.operators.vectors import centroid_means
from elt_data4transformation_spark.plans import REGISTRY, dedup
from elt_data4transformation_spark.sources import TABLES
from tests.conftest import SF_SMALL, assert_frames_match

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "elt_data4transformation_spark",
)


def _ref_spans(rows: list[tuple[int, int]], k: int) -> list[tuple]:
    """Fold sorted window starts: a window starting at most one char past
    the current span's end extends it, any later one opens a new span."""
    spans = []
    for doc in sorted({d for d, _ in rows}):
        cur = None
        for p in sorted(p for d, p in rows if d == doc):
            if cur is not None and p <= cur[2] + 1:
                cur[2] = max(cur[2], p + k - 1)
                cur[3] += 1
            else:
                cur = [doc, p, p + k - 1, 1]
                spans.append(cur)
    return sorted(
        (d, s, e, e - s + 1, n) for d, s, e, n in spans
    )


@pytest.mark.parametrize("k", [3, 5])
def test_dup_spans_matches_reference(spark, k):
    rows = [
        (1, 1), (1, 1 + k),  # adjacent: p == prev_e + 1 merges
        (2, 1), (2, k + 2),  # gap of one char: a new span
        (2, 3 * k + 9),  # wide gap: a third span
        (3, 5), (3, 5), (3, 6), (3, 6 + k),  # repeated p values
        (4, 7),  # single-anchor doc
        (5, 10), (5, 2), (5, 4),  # unsorted input, overlapping windows
    ]
    dup = spark.createDataFrame(rows, "doc_id long, p long")
    got = sorted(
        tuple(r) for r in dedup._dup_spans(dup, k).select(
            "doc_id", "span_start", "span_end", "span_len", "n_anchors"
        ).collect()
    )
    assert got == _ref_spans(rows, k)


def test_centroid_means_matches_numpy(spark):
    rng = np.random.default_rng(7)
    dim = 12  # > 10, so a dim order taken as text would show
    members = {0: 3, 1: 1, 4: 5}  # centroid 1 has a single member
    rows = [
        (cid, rng.uniform(-1.0, 1.0, dim).tolist())
        for cid, n in members.items()
        for _ in range(n)
    ]
    assigned = spark.createDataFrame(rows, "centroid_id long, v array<double>")
    got = {r["centroid_id"]: r["cv"] for r in centroid_means(assigned).collect()}
    assert sorted(got) == sorted(members)
    for cid in members:
        vs = np.array([v for c, v in rows if c == cid])
        want = np.round(vs.mean(axis=0), 6)
        assert len(got[cid]) == dim
        assert np.allclose(got[cid], want, rtol=0, atol=1e-9), cid


def _enclosing_function(tree: ast.AST, line: int) -> str | None:
    name = None
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
            node.lineno <= line <= node.end_lineno
        ):
            # ast.walk is breadth-first: a later match is nested deeper
            name = node.name
    return name


@pytest.mark.parametrize(
    "needle, helper",
    [('"_island"', "_dup_spans"), ('F.struct("dim", "m")', "centroid_means")],
)
def test_query_shape_lives_in_one_helper(needle, helper):
    # a second hand-written copy of the span fold or the centroid mean
    # drifts from the first; call the helper instead
    offenders = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            src = open(path).read()
            if needle not in src:
                continue
            tree = ast.parse(src)
            for i, line in enumerate(src.splitlines(), 1):
                if needle in line and _enclosing_function(tree, i) != helper:
                    offenders.append(f"{os.path.relpath(path, PKG)}:{i}")
    assert not offenders, f"use {helper}: {offenders}"


def _check_oracle(spark, sf, name: str) -> None:
    spec = REGISTRY[name]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    want = con.execute(spec.oracle).df()
    con.close()
    assert_frames_match(spec.fn(spark, str(sf)).toPandas(), want, name)


@pytest.mark.parametrize(
    "name, table, key",
    [
        ("image_neardup", "documents", "doc_id"),
        ("video_neardup", "documents", "doc_id"),
        ("audio_neardup", "documents", "doc_id"),
        ("embedding_neardup_srp", "embeddings", "vec_id"),
        ("dedup_incremental_index", "documents", "doc_id"),
    ],
)
def test_neardup_rerun_after_corpus_edit_matches_oracle(
    spark, tmp_path, monkeypatch, name, table, key
):
    # the stored fingerprints are rebuilt after the edit; a session
    # cache entry for the store (or corpus) path would serve old rows
    sf = tmp_path / "sf"
    shutil.copytree(SF_SMALL, sf)
    monkeypatch.setattr(
        dedup, "_index_root", lambda: str(tmp_path / "store" / "dedup_index")
    )
    _check_oracle(spark, sf, name)
    path = sf / f"{table}.parquet"
    t = pq.read_table(path)
    keep = np.asarray(t.column(key).to_numpy()) % 3 != 0
    pq.write_table(t.filter(keep), path)
    _check_oracle(spark, sf, name)


def test_incremental_index_rerun_after_text_edit_matches_oracle(spark, tmp_path):
    # dropped documents cannot show a stale candidate set (it is a
    # superset, and the fresh shingle joins drop the missing docs); an
    # incoming batch whose documents now copy corpus documents can:
    # cached candidates from the first run miss every new pair
    sf = tmp_path / "sf"
    shutil.copytree(SF_SMALL, sf)
    _check_oracle(spark, sf, "dedup_incremental_index")
    path = sf / "documents.parquet"
    t = pq.read_table(path)
    ids = t.column("doc_id").to_pylist()
    text = t.column("text").to_pylist()
    for i in range(len(ids) - 1):
        if ids[i] % dedup.DELTA_MOD == 0 and ids[i] % 3 == 0:
            text[i] = text[i + 1]
    i_text = t.schema.get_field_index("text")
    pq.write_table(t.set_column(i_text, "text", pa.array(text)), path)
    _check_oracle(spark, sf, "dedup_incremental_index")
