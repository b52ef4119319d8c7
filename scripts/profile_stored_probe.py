"""Per-stage wall-time decomposition of the stored-probe family's
single-shot cost (round-4 verdict ask #5): where do the ~5 s of
dedup_stored_index go when the session is cold-ish (bench conditions:
warm JVM + worker pool, cold query)?

Stages timed by materializing each intermediate with a noop write:
  publish   - fingerprint check + (first run only) index build
  delta_sig - delta shingles + minhash signature + band table
  idx_read  - stored bands + shingles artifact scan (count-only)
  band_join - candidate generation (bands x broadcast probe, distinct)
  rescore   - semi-join stored shingles + exact intersect gate
  window    - best-match row_number + output ordering

Usage: python scripts/profile_stored_probe.py [sf_dir]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import Window  # noqa: E402

from elt_data4transformation_spark.session import get_spark  # noqa: E402
from elt_data4transformation_spark.sources.tables import (  # noqa: E402
    spread,
    table,
)
from elt_data4transformation_spark.operators import dedup_ops  # noqa: E402
from elt_data4transformation_spark.plans.dedup import (  # noqa: E402
    DELTA_MOD,
    N_BANDS,
    N_MINHASH,
    SHINGLE,
    _ensure_stored_index,
)
from elt_data4transformation_spark.functions import textfns as T  # noqa: E402


def mark(label: str, t0: float, out: dict) -> float:
    t1 = time.monotonic()
    out[label] = round(t1 - t0, 3)
    print(f"{label:12s} {out[label]:6.3f}s", flush=True)
    return t1


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="probe-profile")
    spark.sparkContext.setLogLevel("ERROR")
    # bench.py-equivalent warmup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()
    n = spark.sparkContext.defaultParallelism
    (
        spark.range(n).repartition(n)
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save()
    )

    out: dict[str, float] = {}
    d = table(spark, sf_dir, "documents")
    delta = spread(d.filter(F.col("doc_id") % DELTA_MOD == 0))
    t = time.monotonic()
    # the query's own artifact (same path and fingerprint)
    path = _ensure_stored_index(spark, sf_dir)
    t = mark("publish", t, out)

    # --- delta signature ---
    from pyspark import StorageLevel

    dsh = delta.select(
        F.col("doc_id").alias("_nid"),
        T.char_shingles_col(SHINGLE).alias("_sa"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dsig = dedup_ops.minhash_signature(dsh, "_nid", "_sa", N_MINHASH, N_BANDS)
    dbands = dedup_ops.band_table(dsig, "_nid", N_BANDS).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    noop(dbands)
    dsh.count()
    t = mark("delta_sig", t, out)

    # --- index artifact scan ---
    band_dirs, shingle_dirs = dedup_ops._index_segments(path)
    idx_bands = dedup_ops._read_segments(spark, band_dirs)
    idx_sh = dedup_ops._read_segments(spark, shingle_dirs)
    noop(idx_bands)
    t = mark("idx_bands", t, out)
    noop(idx_sh)
    t = mark("idx_sh_scan", t, out)

    # --- band join / candidates ---
    probe_bands = dbands.select(
        F.col("_nid").alias("new_doc_id"), "band_idx", "band_key"
    )
    cand = (
        idx_bands.join(F.broadcast(probe_bands), ["band_idx", "band_key"])
        .select("new_doc_id", F.col("doc_id").alias("matched_doc_id"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    noop(cand)
    t = mark("band_join", t, out)

    # --- rescore ---
    hit_sh = idx_sh.join(
        cand.select(F.col("matched_doc_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    ).select(
        F.col("doc_id").alias("matched_doc_id"),
        F.col("shingles").alias("_sb"),
        F.col("n_sh").alias("_nb"),
    )
    scored = (
        cand.join(
            F.broadcast(dsh.select(F.col("_nid").alias("new_doc_id"), "_sa")),
            "new_doc_id",
        )
        .join(hit_sh, "matched_doc_id")
        .select(
            "new_doc_id",
            "matched_doc_id",
            F.size(F.array_intersect("_sa", "_sb")).cast("long").alias("_i"),
            F.size("_sa").cast("long").alias("_na"),
            F.col("_nb"),
        )
    )
    den = F.col("_na") + F.col("_nb") - F.col("_i")
    gated = scored.filter(F.col("_i") * 2 >= den).select(
        "new_doc_id",
        "matched_doc_id",
        (F.col("_i").cast("double") / den).alias("jaccard_raw"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    noop(gated)
    t = mark("rescore", t, out)

    best = Window.partitionBy("new_doc_id").orderBy(
        F.desc("jaccard_raw"), F.asc("matched_doc_id")
    )
    final = (
        gated.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select(
            "new_doc_id", "matched_doc_id",
            F.round("jaccard_raw", 6).alias("jaccard"),
        )
        .orderBy("new_doc_id")
    )
    noop(final)
    t = mark("window", t, out)

    total = round(sum(out.values()), 3)
    print({"stages": out, "staged_total": total})

    # reference: the real query end-to-end in the same session
    from elt_data4transformation_spark.plans import REGISTRY

    spark.catalog.clearCache()
    t0 = time.monotonic()
    noop(REGISTRY["dedup_stored_index"].fn(spark, sf_dir))
    print({"e2e_same_session": round(time.monotonic() - t0, 3)})
    spark.stop()


if __name__ == "__main__":
    main()
