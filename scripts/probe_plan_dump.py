"""Dump the PROBE JOB plan of stream_index_ingest's drain in both
shapes — the round-11 union-of-per-tag-probes form (reconstructed from
the still-present per-tag ingest_band_index API) and the fused
source-gated single-pass form — so the base-artifact scan count claim
is checkable. Writes plans/r11/stream_index_ingest_probejob_before.txt
and ..._after.txt and prints the per-path scan counts.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from elt_data4transformation_spark.operators import dedup_ops  # noqa: E402
from elt_data4transformation_spark.plans import dedup as D  # noqa: E402
from elt_data4transformation_spark.session import get_spark  # noqa: E402

OUT = os.path.join(REPO, "plans", "r11")


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scan_counts(plan: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    for m in re.finditer(r"Location:.*?\[(.*?)\]", plan):
        path = m.group(1)
        tail = "/".join(path.rstrip("/").split("/")[-2:])
        counts[tail] = counts.get(tail, 0) + 1
    return counts


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="elt4t-probe-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    base_idx = D._ensure_stream_base(spark, sf_dir)
    src = D._ensure_stream_src(spark, sf_dir)
    batch = spark.read.schema(D.STREAM_SRC_SCHEMA).parquet(src)
    d0 = batch.filter(F.col("doc_id") % D.DELTA_MOD == 0)
    d1 = batch.filter(F.col("doc_id") % D.DELTA_MOD == 1)
    base_bands = spark.read.parquet(f"{base_idx}/bands")
    base_sh = spark.read.parquet(f"{base_idx}/shingles")

    # OLD shape: two per-tag probes (tag 1's view unions tag 0's
    # in-memory segment frames), unioned into one append frame
    bands_view, sh_view = base_bands, base_sh
    outs = []
    for tag, delta in ((0, d0), (1, d1)):
        probed, _m, seg_bands, seg_sh, _r = dedup_ops.ingest_band_index(
            spark, base_idx, None, tag=str(tag), threshold=0.5,
            idx_bands=bands_view, idx_sh=sh_view, delta_sig=delta,
            id_col="doc_id",
        )
        outs.append(
            probed.select(
                F.lit(tag).alias("batch_tag"),
                "new_doc_id", "matched_doc_id", "jaccard_raw",
            )
        )
        bands_view = bands_view.unionByName(
            seg_bands.select("doc_id", "band_idx", "band_key")
        )
        sh_view = sh_view.unionByName(seg_sh)
    un_old = outs[0].unionByName(outs[1])
    old_frame = D._probe_best(un_old, "batch_tag")

    # NEW shape: one fused source-gated pass
    scored, _per_tag = dedup_ops.ingest_band_index_fused(
        spark, base_idx, [(0, d0), (1, d1)],
        idx_bands_src=[(-1, base_bands)], idx_sh=base_sh,
        threshold=0.5, id_col="doc_id",
    )
    un_new = scored.select(
        (F.col("new_doc_id") % D.DELTA_MOD).cast("int").alias("batch_tag"),
        "new_doc_id", "matched_doc_id", "jaccard_raw",
    )
    new_frame = D._probe_best(un_new, "batch_tag")

    hdr = (
        "Probe-job plan of stream_index_ingest's drain (the frame the\n"
        "foreachBatch sink appends to the probe log), reconstructed\n"
        "statically from the same operators the sink calls — the\n"
        "streaming query's returned frame only shows the log\n"
        "read-back, so this is the honest plan evidence for the drain\n"
        "itself.\n\n"
    )
    for name, frame in (("before", old_frame), ("after", new_frame)):
        plan = fmt(frame)
        with open(
            f"{OUT}/stream_index_ingest_probejob_{name}.txt", "w"
        ) as f:
            shape = (
                "union of two per-tag probes"
                if name == "before"
                else "one fused source-gated pass"
            )
            f.write(hdr + f"Shape: {shape}\n\n" + plan)
        print(name, "scan counts:", scan_counts(plan))
        print(name, "rows:", frame.count())


if __name__ == "__main__":
    main()
