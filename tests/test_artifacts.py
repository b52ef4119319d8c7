"""Spark-free tests of the stored-artifact helpers: the one path rule
(plans.dedup._artifact_path), the staged ensure
(operators.artifacts.ensure_staged), the stored-artifact record
(plans.dedup.Stored) and the fused-ingest precondition, plus static
guards that keep every artifact on the record and every broken
precondition in plans/ a raised error."""

from __future__ import annotations

import ast
import os

import pytest

from elt_data4transformation_spark.operators import artifacts, dedup_ops
from elt_data4transformation_spark.plans import dedup


def test_artifact_path_follows_rebound_index_root(monkeypatch, tmp_path):
    # perfbench isolates each run's store by rebinding _index_root; the
    # helper must resolve it per call, never at import
    monkeypatch.setattr(
        dedup, "_index_root", lambda: str(tmp_path / "dedup_index")
    )
    path = dedup._artifact_path("ann_ivf", "/data/sf0.01/")
    assert path == str(tmp_path / "ann_ivf" / "sf0.01")
    assert dedup._artifact_path("dedup_index", "sf0.1") == str(
        tmp_path / "dedup_index" / "sf0.1"
    )


class _Staged:
    """A pure-Python staged artifact: the builder writes base.txt, the
    step writes step.txt beside it; calls are counted."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.builds = 0
        self.steps = 0

    def build(self, tmp: str) -> None:
        self.builds += 1
        os.makedirs(tmp)
        with open(os.path.join(tmp, "base.txt"), "w") as fh:
            fh.write("base")

    def step(self) -> None:
        self.steps += 1
        with open(os.path.join(self.path, "step.txt"), "w") as fh:
            fh.write(f"step {self.steps}")

    def ensure(self) -> None:
        artifacts.ensure_staged(
            self.path, "fp-base", "fp-final", self.build, self.step,
            {"ingests": ["a"]},
        )


def test_ensure_staged_builds_then_reuses(tmp_path):
    a = _Staged(str(tmp_path / "art" / "sf"))
    a.ensure()
    assert (a.builds, a.steps) == (1, 1)
    meta = artifacts.load_meta(a.path)
    assert meta == {"fingerprint": "fp-final", "ingests": ["a"]}
    # current final fingerprint: neither the builder nor the step runs
    a.ensure()
    assert (a.builds, a.steps) == (1, 1)


def test_ensure_staged_crash_after_base_reruns_only_the_step(tmp_path):
    a = _Staged(str(tmp_path / "art" / "sf"))
    a.ensure()
    base_file = os.path.join(a.path, "base.txt")
    mtime = os.stat(base_file).st_mtime_ns
    # the crash window: step output on disk, final stamp never written
    artifacts.update_meta(a.path, "fp-base")
    a.ensure()
    assert (a.builds, a.steps) == (1, 2)
    assert os.stat(base_file).st_mtime_ns == mtime, "base was rebuilt"
    assert artifacts.load_meta(a.path)["fingerprint"] == "fp-final"


def test_ensure_staged_without_meta_rebuilds_both(tmp_path):
    a = _Staged(str(tmp_path / "art" / "sf"))
    a.ensure()
    os.remove(os.path.join(a.path, artifacts.META_NAME))
    a.ensure()
    assert (a.builds, a.steps) == (2, 2)
    assert artifacts.load_meta(a.path)["fingerprint"] == "fp-final"


def _record(tmp_path, monkeypatch, **kw) -> tuple[dedup.Stored, str, list]:
    """A pure-Python Stored over ``<tmp>/sf/events.parquet`` whose build
    writes base.txt and returns ``{"k": 3}``; calls are logged."""
    monkeypatch.setattr(dedup, "_index_root", lambda: str(tmp_path / "dedup_index"))
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_text("x")
    calls = []

    def build(spark, sf_dir, tmp):
        calls.append(("build", sf_dir))
        os.makedirs(tmp)
        with open(os.path.join(tmp, "base.txt"), "w") as fh:
            fh.write("base")
        return {"k": 3}

    return dedup.Stored("art", "events", "p|x=1", build, **kw), str(sf), calls


def test_stored_publishes_build_meta_then_reuses(tmp_path, monkeypatch):
    rec, sf, calls = _record(tmp_path, monkeypatch)
    path = rec(None, sf)
    assert path == dedup._artifact_path("art", sf)
    src = [os.path.join(sf, "events.parquet")]
    assert artifacts.load_meta(path) == {
        "fingerprint": artifacts.source_fingerprint(src, "p|x=1"),
        "k": 3,
    }
    assert rec(None, sf) == path
    assert calls == [("build", sf)]


def test_stored_step_derives_both_stamps_from_one_tag(tmp_path, monkeypatch):
    steps = []
    rec, sf, calls = _record(
        tmp_path,
        monkeypatch,
        step=("ingests", "a", lambda spark, sf_dir, path, tag: steps.append(tag)),
    )
    path = rec(None, sf)
    src = [os.path.join(sf, "events.parquet")]
    assert artifacts.load_meta(path) == {
        "fingerprint": artifacts.source_fingerprint(src, "p|x=1|ingests=a"),
        "ingests": ["a"],
    }
    # the crash window: base current, final stamp never written
    artifacts.update_meta(path, artifacts.source_fingerprint(src, "p|x=1|ingests="))
    rec(None, sf)
    rec(None, sf)
    assert (len(calls), steps) == (1, ["a", "a"])


PLANS = os.path.join(os.path.dirname(dedup.__file__))


def _plans_trees():
    for f in sorted(os.listdir(PLANS)):
        if f.endswith(".py"):
            with open(os.path.join(PLANS, f)) as fh:
                yield f, ast.parse(fh.read())


def test_plans_have_no_assert_statement():
    # python -O strips asserts: a compaction or an id-collision guard
    # written as one would silently stop running
    offenders = [
        f"{f}:{n.lineno}"
        for f, tree in _plans_trees()
        for n in ast.walk(tree)
        if isinstance(n, ast.Assert)
    ]
    assert not offenders, f"raise instead of assert: {offenders}"


# the record's ensure and the lifecycles kept by hand on purpose
# (final or pre-split stamps between their steps)
_PUBLISHERS = {"Stored.__call__", "_ensure_compact_index", "_ensure_split_ivf"}


def test_artifacts_are_published_only_through_the_record():
    # a hand-written path + fingerprint + publish copy drifts from the
    # record's; a new stored artifact is a Stored
    offenders = []
    for f, tree in _plans_trees():
        scopes = []
        for node in ast.walk(tree):
            if isinstance(node, ast.ClassDef):
                scopes += [
                    (f"{node.name}.{m.name}", m)
                    for m in node.body
                    if isinstance(m, ast.FunctionDef)
                ]
            elif isinstance(node, ast.FunctionDef) and node.col_offset == 0:
                scopes.append((node.name, node))
        owner = {}
        for name, fn in scopes:
            for n in ast.walk(fn):
                owner[id(n)] = name
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            func = ast.unparse(n.func)
            if func in ("artifacts.publish", "artifacts.ensure_staged") or (
                func.split(".")[-1] == "_artifact_path"
            ):
                if owner.get(id(n)) not in _PUBLISHERS:
                    offenders.append(f"{f}:{n.lineno} {func}")
    assert not offenders, f"declare a plans.dedup.Stored record: {offenders}"


def test_ingest_band_index_fused_rejects_empty_ready():
    with pytest.raises(ValueError, match="no ready tags"):
        dedup_ops.ingest_band_index_fused(None, "unused", [], [], None)


@pytest.mark.parametrize(
    "view_tags, ready_tags",
    [([-1, 0], [0]), ([-1, 1], [0, 2]), ([-1], [1, 1])],
)
def test_ingest_band_index_fused_rejects_reused_tags(view_tags, ready_tags):
    # a tag not above every tag already in the view would hide that
    # segment behind the _vsrc < _ptag gate; the check runs no job
    with pytest.raises(ValueError, match="not greater than"):
        dedup_ops.ingest_band_index_fused(
            None,
            "unused",
            [(t, None) for t in ready_tags],
            [(t, None) for t in view_tags],
            None,
        )
