"""The schema-memoised parquet read (sources.tables.read_parquet): a memo
hit scans with the schema Spark inferred for the same file state, so it
must return that schema and those rows while running no Spark job; a
changed file state or inference conf must miss. Plus the static guard
that keeps every package parquet read on the helper."""

from __future__ import annotations

import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import IntegerType, LongType, StringType

from elt_data4transformation_spark.plans import dedup, similarity, upserts
from elt_data4transformation_spark.sources import TABLES, tables
from tests.conftest import SF_SMALL

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
PLANS = "elt_data4transformation_spark.plans"
PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "elt_data4transformation_spark",
)


def _next_job(spark) -> int:
    # the scheduler's job-id counter: the number of jobs submitted so far
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _rows(df) -> list[str]:
    return sorted(repr(r) for r in df.collect())


def _assert_hit_matches_inferred(spark, path: str) -> None:
    tables.read_parquet(spark, path)
    j0 = _next_job(spark)
    hit = tables.read_parquet(spark, path)
    assert _next_job(spark) == j0, f"{path}: a memo hit ran a Spark job"
    ref = spark.read.parquet(path)
    assert hit.schema == ref.schema, path
    assert _rows(hit) == _rows(ref), path


@pytest.fixture
def memo(monkeypatch) -> dict:
    """An empty schema memo for one test (the module's is restored)."""
    monkeypatch.setattr(tables, "_SCHEMAS", {})
    return tables._SCHEMAS


@pytest.fixture(scope="module")
def store(tmp_path_factory):
    """A private artifact store, so each artifact is built here."""
    root = tmp_path_factory.mktemp("store")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "_index_root", lambda: str(root / "dedup_index"))
        yield


def test_read_parquet_matches_inferred_read_on_every_table(spark, memo):
    spark.conf.set(NANOS, "true")  # as table() reads events
    for t in TABLES:
        _assert_hit_matches_inferred(spark, f"{SF_SMALL}/{t}.parquet")
    assert len(memo) == len(TABLES)


def test_read_parquet_matches_inferred_read_on_prepared_artifacts(
    spark, store, memo
):
    band = dedup._ensure_stored_index(spark, SF_SMALL)
    ivf = similarity._ensure_stored_ivf(spark, SF_SMALL)
    upserts.cdc_stored_state_maintain(spark, SF_SMALL).collect()
    segmented = dedup._ensure_maintain_index(spark, SF_SMALL)
    for path in (
        f"{band}/bands",
        f"{band}/shingles",
        f"{ivf}/index",  # partitioned by centroid_id
        f"{ivf}/centroids",
        f"{dedup._artifact_path('cdc_state', SF_SMALL)}/state",
        f"{segmented}/bands_ingest_a",
        f"{segmented}/shingles_ingest_a",
    ):
        _assert_hit_matches_inferred(spark, path)


def test_ensure_on_current_artifact_runs_no_job(spark, store, monkeypatch):
    # every registry prepare hook, called again on current artifacts,
    # is a fingerprint stat-check: no Spark job and no corpus table()
    # read (each record builds its frames inside its build or step)
    from elt_data4transformation_spark.plans import REGISTRY

    calls = []

    def counted(*args, **kwargs):
        calls.append(args[2] if len(args) > 2 else kwargs.get("name"))
        return tables.table(*args, **kwargs)

    # patch the name in every plans module, as perfbench's tracer does
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PLANS) and getattr(
            mod, "table", None
        ) is tables.table:
            monkeypatch.setattr(mod, "table", counted)
    hooks = {}
    for name, spec in sorted(REGISTRY.items()):
        if spec.prepare is not None:
            hooks.setdefault(spec.prepare, name)
    assert len(hooks) >= 22, len(hooks)
    for prepare, name in hooks.items():
        prepare(spark, SF_SMALL)
        del calls[:]
        j0 = _next_job(spark)
        prepare(spark, SF_SMALL)
        assert _next_job(spark) == j0, f"{name}: a current prepare ran a job"
        assert not calls, f"{name}: a current prepare read {calls}"


def test_read_parquet_misses_on_rewritten_file(spark, memo, tmp_path):
    f = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), f)
    assert tables.read_parquet(spark, f).schema.names == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), f)
    df = tables.read_parquet(spark, f)
    assert df.schema == spark.read.parquet(f).schema
    assert df.schema.names == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]
    assert len(memo) == 2


def test_read_parquet_misses_on_added_segment(spark, memo, tmp_path):
    d = str(tmp_path / "segments")
    spark.createDataFrame([(1, "x")], "a int, b string").write.parquet(f"{d}/k=1")
    assert tables.read_parquet(spark, d).schema["k"].dataType == IntegerType()
    # a segment whose partition value is not an integer makes k a string
    spark.createDataFrame([(2, "y")], "a int, b string").write.parquet(f"{d}/k=z")
    df = tables.read_parquet(spark, d)
    assert df.schema == spark.read.parquet(d).schema
    assert df.schema["k"].dataType == StringType()
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x", "1"), (2, "y", "z")]


def test_nanos_as_long_conf_keys_a_separate_entry(spark, memo, tmp_path):
    # perfbench writes events.ts as TIMESTAMP(NANOS), like this file
    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_000_000_123], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path)
    prev = spark.conf.get(NANOS, None)
    try:
        spark.conf.set(NANOS, "true")
        assert tables.read_parquet(spark, path).schema["ts"].dataType == LongType()
        # without the flag Spark refuses the type; the memoised long
        # schema must not be served in its place
        spark.conf.set(NANOS, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            tables.read_parquet(spark, path)
    finally:
        if prev is None:
            spark.conf.unset(NANOS)
        else:
            spark.conf.set(NANOS, prev)
    assert len(memo) == 1


def test_no_bare_parquet_read_outside_sources_tables():
    # a bare read infers the schema with one Spark job on every call;
    # reads that pass .schema(...) or reader options do not match
    bare = re.compile(r"\.read\.parquet\(")
    offenders = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, PKG)
            if not f.endswith(".py") or rel == os.path.join("sources", "tables.py"):
                continue
            with open(path) as fh:
                offenders += [
                    f"{rel}:{i}" for i, line in enumerate(fh, 1) if bare.search(line)
                ]
    assert not offenders, f"use sources.read_parquet: {offenders}"
