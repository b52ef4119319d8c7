"""Spark-free tests of the stored-artifact helpers: the one path rule
(plans.dedup._artifact_path), the staged ensure
(operators.artifacts.ensure_staged) and the fused-ingest precondition."""

from __future__ import annotations

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
