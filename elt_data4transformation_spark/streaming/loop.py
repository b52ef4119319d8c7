"""The bounded foreachBatch lifecycle every stream loop in the package
runs, and the tag-ordered drain the two stored-index ingest loops share.

``run_available_now`` is the only place that starts a foreachBatch
query: it drains everything the source holds now (``availableNow``)
into the sink and removes its checkpoint afterwards, so each call
re-reads its whole source and leaves nothing in the temp dir.

``drain_in_tag_order`` turns arrival order into tag order. Every row of
an ingest stream carries a tag (``tag_of``); tags are drained strictly
in increasing order 0, 1, 2, ..., each exactly once, whatever order
the file source delivers them in, and every drained segment is stamped
into the index meta only after its write has finished.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import artifacts


def run_available_now(
    stream_df: DataFrame, sink: Callable[[DataFrame, int], None]
) -> None:
    """Run ``sink(batch_df, batch_id)`` on every micro-batch of what
    ``stream_df``'s source holds now and wait for the query to end. The
    checkpoint is a fresh temp dir, removed whether the run returns or
    raises (a sink failure re-raises here as StreamingQueryException)."""
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        q = (
            stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()


def ingest_run_root(work: str, base_idx: str, segments: tuple[str, ...]) -> str:
    """A private index root ``<work>/idx`` for one ingest run: the
    immutable base artifact's ``segments`` symlinked in and no ingests
    stamped. Concurrent runs share one base; a run's merges stay in its
    own root."""
    idx = os.path.join(work, "idx")
    os.makedirs(idx)
    for seg in segments:
        os.symlink(os.path.join(base_idx, seg), os.path.join(idx, seg))
    artifacts.update_meta(idx, "run", {"ingests": []})
    return idx


def drain_in_tag_order(
    stream_df: DataFrame, tag_of: Column, drain: Callable, idx: str
) -> None:
    """Stream ``stream_df`` to the end and drain its rows tag by tag.

    Each micro-batch names its tags in one aggregate job. A tag that is
    next in order drains from the live batch (the whole batch when it
    holds one tag); a later tag is pinned with ``localCheckpoint(eager)``
    (the micro-batch source expires when the sink returns) until every
    earlier tag has drained. ``drain(ready)`` receives the ready
    ``[(tag, frame)]`` in increasing tag order, must materialize its
    probes before returning, and returns ``[(tag, merge_fn,
    release_fn)]``; each merge then runs on a CheckedThread.

    After the stream ends the merges are committed in tag order: join
    the write (a failed write re-raises here, before its stamp — a
    crashed merge stays an unlisted orphan), append the tag to the
    meta's ``ingests``, release. The drained tags are committed even
    when a gap left later tags pinned, so no write is still running
    when the RuntimeError that names the pinned tags reaches the
    caller's cleanup. Each tag's rows must arrive in one micro-batch; a
    tag seen in a second one raises (its rows would be lost)."""
    pinned: dict[int, DataFrame] = {}
    merges: list[tuple[int, artifacts.CheckedThread, Callable[[], None]]] = []
    nxt = 0

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        nonlocal nxt
        tags = batch_df.agg(F.array_sort(F.collect_set(tag_of))).first()[0]
        ready: list[tuple[int, DataFrame]] = []
        for t in tags:
            if t < nxt or t in pinned:
                raise RuntimeError(f"tag {t} arrived in a second micro-batch")
            part = batch_df if len(tags) == 1 else batch_df.filter(tag_of == t)
            if t == nxt:
                ready.append((t, part))
                nxt += 1
            else:
                pinned[t] = part.localCheckpoint(eager=True)
        while nxt in pinned:
            ready.append((nxt, pinned.pop(nxt)))
            nxt += 1
        if ready:
            for tag, merge, release in drain(ready):
                th = artifacts.CheckedThread(target=merge)
                th.start()
                merges.append((tag, th, release))

    run_available_now(stream_df, sink)
    for tag, th, release in merges:
        th.join()
        ingests = artifacts.load_meta(idx)["ingests"]
        artifacts.update_meta(idx, "run", {"ingests": ingests + [str(tag)]})
        release()
    if pinned:
        raise RuntimeError(
            f"tags {sorted(pinned)} still pinned: tag {nxt} never arrived"
        )
