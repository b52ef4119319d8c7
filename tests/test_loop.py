"""The shared stream lifecycle (streaming/loop.py): the tag-ordered
drain under split and gapped arrivals, temp-dir hygiene of the stream
queries and of csv_json_roundtrip, and a static guard that keeps every
availableNow run on the one self-cleaning runner."""

from __future__ import annotations

import os
import re
import tempfile
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from elt_data4transformation_spark.operators import artifacts
from elt_data4transformation_spark.streaming.loop import (
    drain_in_tag_order,
    ingest_run_root,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "elt_data4transformation_spark",
)


def _tag_files(src: str, arrival: list[int]) -> None:
    """One tiny parquet file per entry of ``arrival`` (ids with
    id % 3 == its tag), mtimes set so the file source delivers them in
    that order."""
    os.makedirs(src)
    now = time.time()
    for k, tag in enumerate(arrival):
        path = os.path.join(src, f"{k}_tag{tag}.parquet")
        pd.DataFrame({"id": [tag, tag + 3]}).to_parquet(path, index=False)
        os.utime(path, (now - 100 + k, now - 100 + k))


def _run(spark, src: str, idx: str, max_files: int | None):
    """drain_in_tag_order with a recording drain: returns the tag list
    of each drain call and every (tag, id) row drained."""
    calls, rows = [], []

    def drain(ready):
        calls.append([t for t, _ in ready])
        rows.extend((t, r["id"]) for t, df in ready for r in df.collect())
        return [(t, lambda: None, lambda: None) for t, _ in ready]

    reader = spark.readStream.schema("id long")
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    drain_in_tag_order(reader.parquet(src), F.col("id") % 3, drain, idx)
    return calls, sorted(rows)


def test_drain_in_tag_order_sequences_split_arrivals(spark, tmp_path):
    # arrival order 2, 0, 1 one file per micro-batch: tag 2 is pinned
    # until 0 and 1 have drained
    src = str(tmp_path / "src")
    _tag_files(src, [2, 0, 1])
    split_idx = ingest_run_root(str(tmp_path / "split"), "unused", ())
    calls, rows = _run(spark, src, split_idx, max_files=1)
    assert calls in ([[0], [1, 2]], [[0], [1], [2]]), calls
    assert artifacts.load_meta(split_idx)["ingests"] == ["0", "1", "2"]

    one_idx = ingest_run_root(str(tmp_path / "one"), "unused", ())
    one_calls, one_rows = _run(spark, src, one_idx, max_files=None)
    assert one_calls == [[0, 1, 2]]
    assert rows == one_rows == [(t, t + d) for t in range(3) for d in (0, 3)]


def test_drain_in_tag_order_names_pinned_tags(spark, tmp_path):
    src = str(tmp_path / "src")
    _tag_files(src, [2, 1])
    idx = ingest_run_root(str(tmp_path / "run"), "unused", ())
    with pytest.raises(RuntimeError, match=r"tags \[1, 2\] still pinned"):
        _run(spark, src, idx, max_files=1)
    assert artifacts.load_meta(idx)["ingests"] == []


@pytest.mark.parametrize("arrival", [[0, 0], [2, 2]])
def test_drain_in_tag_order_rejects_a_tag_split_across_batches(
    spark, tmp_path, arrival
):
    # a drained tag ([0, 0]) or a pinned one ([2, 2]) seen again
    # would lose its second part; the sink's error ends the query
    src = str(tmp_path / "src")
    _tag_files(src, arrival)
    idx = ingest_run_root(str(tmp_path / "run"), "unused", ())
    with pytest.raises(Exception, match="arrived in a second micro-batch"):
        _run(spark, src, idx, max_files=1)


def test_stream_runs_leave_temp_dir_empty(spark, tmp_path, tmp_path_factory, monkeypatch):
    # checkpoints, state versions, probe logs and run roots all live in
    # temp dirs that each run removes
    from elt_data4transformation_spark.plans import REGISTRY
    from elt_data4transformation_spark.streaming.events import (
        foreach_batch_snapshot_diff,
        stream_upsert_materialized,
        tumbling_counts,
    )
    from tests.conftest import SF_SMALL

    multi = str(tmp_path_factory.mktemp("multi") / "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .repartition(4)
        .write.parquet(multi)
    )
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert stream_upsert_materialized(spark, multi, "*.parquet", 1).collect()
    assert foreach_batch_snapshot_diff(spark, SF_SMALL).collect()
    assert tumbling_counts(spark, SF_SMALL).collect()
    assert REGISTRY["stream_index_ingest"].fn(spark, SF_SMALL).collect()
    assert os.listdir(tmp_path) == []


def test_csv_json_roundtrip_leaves_temp_dir_empty(spark, tmp_path, monkeypatch):
    # its CSV and JSON files are read back before their temp dir goes
    from elt_data4transformation_spark.plans import REGISTRY
    from tests.conftest import SF_SMALL

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert REGISTRY["csv_json_roundtrip"].fn(spark, SF_SMALL).count() == 25
    assert os.listdir(tmp_path) == []


def test_available_now_runs_only_through_loop():
    # a hand-rolled availableNow run names its own checkpoint, and
    # mkdtemp dirs outlive the run that made them
    trigger = re.compile(r"trigger\(availableNow")
    mkdtemp = re.compile(r"tempfile\.mkdtemp\(")
    offenders = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, PKG)
            if not f.endswith(".py"):
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if mkdtemp.search(line) or (
                        trigger.search(line)
                        and rel != os.path.join("streaming", "loop.py")
                    ):
                        offenders.append(f"{rel}:{i}")
    assert not offenders, f"use streaming.loop.run_available_now: {offenders}"
