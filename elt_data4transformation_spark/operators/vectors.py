"""Dense-vector operators: all-pairs cosine similarity and top-k
search, built for scale.

Design: all-pairs similarity is inherently quadratic, so it is
decomposed into BLOCK PAIRS — vectors are bucketed by id into blocks
of `block_size`; each (block_a, block_b) combination becomes one
grouped-map task whose inner loop is a single numpy matrix multiply
over Arrow-delivered batches (vectorized, no per-row Python). Data is
replicated n_blocks times (unavoidable for exact all-pairs); at 100 TB
you bound n_blocks by pre-bucketing with LSH/IVF (see plans/similarity
ann_ivf_topk) and run exact block-pairs only within buckets.

No driver-side collect anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources import read_parquet

# --- JVM-side fold expressions (small-candidate-set path) -----------------


def dot_col(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_col(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_col(a: Column | str, b: Column | str) -> Column:
    """NULL for a zero vector: Spark's raw 0/0 would be NaN — which
    sorts ABOVE every real similarity in a descending rank — while
    DuckDB's LIST_COSINE_SIMILARITY returns -1.0 there. NULL (nulls
    last in desc on both engines) is the only agreeing semantics; use
    cosine_sql for the oracle side."""
    return dot_col(a, b) / F.nullif(
        norm_col(a) * norm_col(b), F.lit(0.0)
    )


def assign_nearest(
    base: DataFrame, cent: DataFrame, cos_name: str = "cos"
) -> DataFrame:
    """Nearest-centroid assignment by cosine, ties to the lowest
    centroid_id. ``base`` must carry ``vec_id`` and ``v``; every other
    column rides along. ``cent`` is ``(centroid_id, cv)``.

    Shape: broadcast the k centroids (BroadcastNestedLoopJoin streams
    the base side in place), then collapse the k candidate rows per
    vector with a ``max_by`` AGGREGATE rather than a rn=1 window — the
    map-side partial aggregation reduces each vector to one row before
    the exchange, so the shuffle moves N rows instead of N*k, and no
    sort happens at all. The (cos, -centroid_id) struct key reproduces
    the window's (cos DESC, centroid_id ASC) tie-break exactly,
    including the all-NULL-cosine (zero-vector) case where struct
    comparison falls through to the id."""
    carry = [c for c in base.columns if c != "vec_id"]
    scored = base.crossJoin(F.broadcast(cent)).withColumn(
        "_ccos", cosine_col(F.col("v"), F.col("cv"))
    )
    payload = F.struct(
        *[F.col(c).alias(c) for c in carry],
        F.col("centroid_id").alias("centroid_id"),
        F.col("_ccos").alias(cos_name),
    )
    key = F.struct(F.col("_ccos"), (-F.col("centroid_id")).cast("long"))
    out = scored.groupBy("vec_id").agg(F.max_by(payload, key).alias("_b"))
    return out.select(
        "vec_id",
        *[F.col(f"_b.{c}").alias(c) for c in carry],
        F.col("_b.centroid_id").alias("centroid_id"),
        F.col(f"_b.{cos_name}").alias(cos_name),
    )


def centroid_means(assigned: DataFrame) -> DataFrame:
    """One Lloyd update over ``assigned`` (centroid_id, v): each
    centroid's elementwise member mean, rounded to 6 decimals so both
    engines build bit-identical centroids. Returns (centroid_id, cv),
    the vector rebuilt in dim order by array_sort over (dim, m) structs
    (collect_list alone is order-unstable)."""
    return (
        assigned.select("centroid_id", F.posexplode("v").alias("dim", "val"))
        .groupBy("centroid_id", "dim")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .groupBy("centroid_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda x: x["m"],
            ).alias("cv")
        )
    )


def cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of cosine_col (zero vectors -> NULL, not -1)."""
    return (
        f"(CASE WHEN LIST_SUM(LIST_TRANSFORM({a}, x -> x * x)) = 0 "
        f"OR LIST_SUM(LIST_TRANSFORM({b}, x -> x * x)) = 0 THEN NULL "
        f"ELSE LIST_COSINE_SIMILARITY({a}, {b}) END)"
    )


def _quarantine_missized(
    tagged: DataFrame, expected_dim: int | None
) -> DataFrame:
    """Drop rows whose ``_v`` doesn't have the expected dimensionality.

    When the caller doesn't know the dimension, infer it as the MODE
    (most frequent) vector size — NOT the max: a single oversized
    corrupt vector would otherwise silently quarantine every
    correctly-sized vector (inverted quarantine, empty output, no
    error). Ties break to the smaller size for determinism. One tiny
    two-level aggregate, broadcast back."""
    if expected_dim is not None:
        return tagged.filter(F.size("_v") == expected_dim)
    dims = (
        tagged.groupBy(F.size("_v").alias("_dim"))
        .agg(F.count(F.lit(1)).alias("_nd"))
        .groupBy()
        .agg(
            F.max_by(
                "_dim", F.struct(F.col("_nd"), (-F.col("_dim")).cast("long"))
            ).alias("_dim")
        )
    )
    return (
        tagged.join(F.broadcast(dims))
        .filter(F.size("_v") == F.col("_dim"))
        .drop("_dim")
    )


# --- Block-partitioned vectorized all-pairs -------------------------------


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    threshold: float = 0.9,
    block_size: int = 4096,
    carry_cols: tuple[str, ...] = (),
    round_dp: int | None = None,
    expected_dim: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold.

    NULL / mis-sized vectors are quarantined before blocking (see
    bucket_cosine_pairs); ``round_dp`` rounds the cosine BEFORE the
    threshold gate so an oracle computing cosine in a different float
    summation order agrees on keep/drop (round-before-compare rule).

    Emits columns: id_a, id_b, cosine (+ carried cols as <c>_a / <c>_b).
    """
    spark = df.sparkSession
    tagged = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        *[F.col(c) for c in carry_cols],
    ).filter(F.col("_v").isNotNull())
    tagged = _quarantine_missized(tagged, expected_dim)
    tagged = tagged.withColumn(
        "_g", F.floor(F.col("_id") / block_size).cast("long")
    )

    gids = tagged.select("_g").distinct()
    block_pairs = (
        gids.alias("x")
        .join(gids.alias("y"), F.col("x._g") <= F.col("y._g"))
        .select(F.col("x._g").alias("_ga"), F.col("y._g").alias("_gb"))
    )
    # replicate each block's rows to every block-pair it participates in
    left = tagged.join(
        F.broadcast(block_pairs), tagged["_g"] == block_pairs["_ga"]
    ).withColumn("_side", F.lit("a"))
    right = (
        tagged.join(
            F.broadcast(block_pairs),
            (tagged["_g"] == block_pairs["_gb"])
            & (block_pairs["_ga"] != block_pairs["_gb"]),
        )
        .withColumn("_side", F.lit("b"))
    )
    both = left.unionByName(right)

    carry_fields = ", ".join(
        f"{c}_a {t}, {c}_b {t}"
        for c, t in [
            (c, dict(df.dtypes)[c]) for c in carry_cols
        ]
    )
    out_schema = "id_a long, id_b long, cosine double" + (
        f", {carry_fields}" if carry_fields else ""
    )

    def block_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ga = pdf["_ga"].iloc[0]
        gb = pdf["_gb"].iloc[0]
        a = pdf[pdf["_side"] == "a"]
        b = pdf[pdf["_side"] == "b"] if ga != gb else a
        if a.empty or b.empty:
            return pd.DataFrame(
                {f.split()[0]: [] for f in out_schema.split(", ")}
            )
        ma = np.stack(a["_v"].to_numpy())
        mb = np.stack(b["_v"].to_numpy())
        na = ma / np.linalg.norm(ma, axis=1, keepdims=True)
        nb = mb / np.linalg.norm(mb, axis=1, keepdims=True)
        sims = na @ nb.T
        if round_dp is not None:
            sims = np.round(sims, round_dp)
        ia, ib = (sims >= threshold).nonzero()
        ids_a = a["_id"].to_numpy()[ia]
        ids_b = b["_id"].to_numpy()[ib]
        keep = ids_a < ids_b
        out = {
            "id_a": ids_a[keep],
            "id_b": ids_b[keep],
            "cosine": sims[ia, ib][keep],
        }
        for c in carry_cols:
            out[f"{c}_a"] = a[c].to_numpy()[ia][keep]
            out[f"{c}_b"] = b[c].to_numpy()[ib][keep]
        return pd.DataFrame(out)

    return (
        both.groupBy("_ga", "_gb")
        .applyInPandas(block_fn, out_schema)
    )


# --- Bucketed vectorized within-group pairs -------------------------------


def bucket_cosine_pairs(
    df: DataFrame,
    bucket_col: str,
    id_col: str = "vec_id",
    vec_col: str = "v",
    threshold: float = 0.9,
    round_dp: int | None = None,
    expected_dim: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) WITHIN each bucket with cosine >=
    threshold — the vectorized inner loop of cluster-then-compare
    dedup (SemDeDup shape). One grouped-map task per bucket, a single
    numpy matmul inside; no cross-bucket pair ever materializes.

    Zero vectors have NULL cosine semantics upstream (cosine_col);
    here their rows simply produce no pair because NaN >= threshold is
    False — identical keep/prune outcome.

    NULL and mis-sized vectors are QUARANTINED (dropped before the
    grouped map) rather than allowed to kill the stage inside
    np.stack — same exclusion policy as the decode operators. The
    expected dimension is ``expected_dim`` when the caller knows it,
    else the corpus-wide max vector size (one tiny scalar aggregate,
    broadcast).

    ``round_dp``: round the cosine BEFORE applying the threshold —
    callers whose oracle computes cosine with a different float
    summation order (BLAS matmul here vs an ordered fold in SQL) must
    gate on identically-rounded values or a near-threshold pair can
    flip keep/prune between engines (repo round-before-compare rule).

    Emits: bucket, id_a, id_b, cosine.
    """
    tagged = df.select(
        F.col(bucket_col).alias("_bk"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    tagged = _quarantine_missized(tagged, expected_dim)
    # bucket keys aren't always numeric (language blocks, band keys):
    # derive the output type from the input column instead of baking
    # one in, or Arrow coercion fails in every bucket task
    bucket_type = dict(df.dtypes)[bucket_col]
    out_schema = (
        f"bucket {bucket_type}, id_a long, id_b long, cosine double"
    )

    def bucket_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("_id", ignore_index=True)
        ids = pdf["_id"].to_numpy()
        m = np.stack(pdf["_v"].to_numpy())
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            nm = m / norms
        sims = nm @ nm.T
        if round_dp is not None:
            sims = np.round(sims, round_dp)
        ia, ib = np.triu_indices(len(ids), k=1)
        mask = sims[ia, ib] >= threshold  # NaN (zero vector) -> False
        return pd.DataFrame(
            {
                "bucket": np.full(int(mask.sum()), pdf["_bk"].iloc[0]),
                "id_a": ids[ia[mask]],
                "id_b": ids[ib[mask]],
                "cosine": sims[ia, ib][mask],
            }
        )

    return tagged.groupBy("_bk").applyInPandas(bucket_fn, out_schema)


# --- stored-IVF lifecycle: segments, compaction, drift-guarded retrain -----


def ivf_index_dirs(index_path: str) -> list[str]:
    """Vector parquet directories of a stored IVF index: the base
    ``index/`` plus every MERGED ingest segment listed in the artifact
    meta (same orphan rule as the dedup family — segment written
    first, meta stamped last, unlisted segments are crash debris and
    ignored)."""
    from . import artifacts

    meta = artifacts.load_meta(index_path) or {}
    return [f"{index_path}/index"] + [
        f"{index_path}/index_ingest_{t}" for t in meta.get("ingests", [])
    ]


def read_ivf_index(spark, index_path: str) -> DataFrame:
    """The full indexed vector set (vec_id, v, centroid_id): base +
    listed ingest segments unioned. Per-segment reads + unionByName —
    one multi-root read() call makes partition discovery guess a
    common base path."""
    dirs = ivf_index_dirs(index_path)
    out = read_parquet(spark, dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(read_parquet(spark, d))
    return out


def ivf_segment_fraction(spark, index_path: str) -> float:
    """Fraction of indexed vectors living in ingest segments — the
    DRIFT-GUARD signal: frozen-centroid appends are cheap but every
    appended vector was bucketed by centroids that never saw it, so as
    the segment share grows, bucket skew grows and nprobe recall
    decays silently. Row counts come from parquet metadata (footer
    row-group counts — no data scan)."""
    dirs = ivf_index_dirs(index_path)
    base = read_parquet(spark, dirs[0]).count()
    seg = sum(read_parquet(spark, d).count() for d in dirs[1:])
    total = base + seg
    return (seg / total) if total else 0.0


def ivf_tombstone_dirs(index_path: str) -> list[str]:
    """Tombstone parquet directories of a stored IVF index: one per
    DELETE listed in the artifact meta. Same orphan rule as data
    segments — a tombstone not listed in the meta is a crashed delete
    and is ignored (segment written first, meta stamped last)."""
    from . import artifacts

    meta = artifacts.load_meta(index_path) or {}
    return [f"{index_path}/deletes_{t}" for t in meta.get("deletes", [])]


def delete_from_ivf_index(
    spark,
    index_path: str,
    vec_ids: DataFrame,
    tag: str,
    id_col: str = "vec_id",
) -> None:
    """DELETE vectors from a stored IVF index by TOMBSTONE — the
    removal half of the vector-store lifecycle, mirror of dedup's
    delete_from_band_index (takedown / GDPR erasure of an embedded
    document; reference analog: the delete-then-insert upsert,
    elt/loader_clickhouse.py:530-573). Base and ingest segments are
    append-only, so removal writes a ``deletes_<tag>`` segment of ids;
    probes ANTI-JOIN indexed vectors (and the query set drawn from
    them) against the tombstone union, and compaction
    (compact_ivf_index) applies tombstones PHYSICALLY. The caller
    stamps the meta (deletes list + fingerprint) AFTER this returns —
    a crash in between leaves an unlisted orphan the readers ignore,
    so the delete is atomic-or-absent. Cost: ids only, broadcast into
    the probe — no index rewrite per delete."""
    vec_ids.select(F.col(id_col)).distinct().write.mode(
        "overwrite"
    ).parquet(f"{index_path}/deletes_{tag}")


def read_ivf_tombstones(spark, index_path: str) -> DataFrame | None:
    """Union of the listed tombstone id sets, or None when the index
    has no registered deletes (probes then skip the anti-join
    entirely — zero cost on the common path)."""
    dirs = ivf_tombstone_dirs(index_path)
    if not dirs:
        return None
    out = read_parquet(spark, dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(read_parquet(spark, d))
    return out.distinct()


def compact_ivf_index(spark, index_path: str) -> bool:
    """Fold every ingest segment back into the base IVF index — the
    compaction half of the lifecycle ann_ivf_maintain starts, mirror
    of dedup's compact_band_index: assignments are FROZEN-centroid
    facts, so folding is a pure file-layout change and probes return
    identical rows before and after (tested). TOMBSTONES
    (delete_from_ivf_index) are applied PHYSICALLY here: the folded
    index anti-joins the deleted ids out and the meta's deletes list
    resets — the logical delete probes already honored becomes
    reclaimed space. Goes through the temp-dir + meta-last +
    near-atomic-rename protocol (operators/artifacts.swap) — a
    crashed compaction leaves the old artifact fully intact. Returns
    False when there is nothing to compact."""
    from . import artifacts

    meta = artifacts.load_meta(index_path)
    if not meta or not (meta.get("ingests") or meta.get("deletes")):
        return False
    idx = read_ivf_index(spark, index_path)
    dels = read_ivf_tombstones(spark, index_path)
    if dels is not None:
        idx = idx.join(F.broadcast(dels), "vec_id", "left_anti")
    cent = read_parquet(spark, f"{index_path}/centroids")

    def build(tmp: str) -> None:
        cent.write.mode("overwrite").parquet(f"{tmp}/centroids")
        idx.write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{tmp}/index"
        )

    artifacts.swap(index_path, build, {**meta, "ingests": [], "deletes": []})
    return True


def retrain_ivf_index(spark, index_path: str, iters: int = 3) -> None:
    """RE-TRAIN the centroids over the full current vector set and
    re-index — what the drift guard triggers when frozen-centroid
    ingests have drifted too far from the training distribution. Seeds
    from the CURRENT stored centroids (deterministic — no sampling),
    runs ``iters`` Lloyd steps (elementwise member mean, 6dp-rounded,
    vector rebuilt in dim order — the same refinement math the
    builders use; a drifted cluster sitting between two stale
    centroids migrates over 2-3 steps, so one step is not enough),
    reassigns every vector, and swaps the rebuilt artifact in
    (ingests folded and cleared). Cost is ``iters`` passes over the
    index — which is the point of the guard: pay it only when the
    segment fraction says recall is at risk, not per ingest.

    Tombstoned vectors are anti-joined out BEFORE retraining (same as
    compact_ivf_index): the rebuilt artifact holds only live vectors
    and both the ``ingests`` and ``deletes`` lists clear — the swap
    replaces the whole directory, so a forwarded ``deletes`` list
    would point at destroyed segment paths and deleted vectors would
    otherwise be re-indexed from the folded base."""
    from . import artifacts

    meta = artifacts.load_meta(index_path) or {}
    vecs = read_ivf_index(spark, index_path).select("vec_id", "v")
    dels = read_ivf_tombstones(spark, index_path)
    if dels is not None:
        vecs = vecs.join(F.broadcast(dels), "vec_id", "left_anti")
    vecs = vecs.localCheckpoint(eager=True)  # iterated consumer: cut re-reads
    cent = read_parquet(spark, f"{index_path}/centroids")
    for _ in range(iters):
        cent = centroid_means(
            assign_nearest(vecs, cent).drop("cos")
        ).localCheckpoint(eager=True)  # k rows; freeze per step
    assigned = assign_nearest(vecs, cent).drop("cos")

    def build(tmp: str) -> None:
        cent.write.mode("overwrite").parquet(f"{tmp}/centroids")
        assigned.select("vec_id", "v", "centroid_id").write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(f"{tmp}/index")

    artifacts.swap(index_path, build, {**meta, "ingests": [], "deletes": []})


def split_wide_clusters(
    spark,
    index_path: str,
    width_factor: float = 1.5,
    max_width: int | None = None,
) -> int:
    """WIDTH-BOUNDED SPLIT COMPACTION — the scale-safe alternative to a
    full re-train: any cluster holding more than ``width_factor * N/K``
    vectors is split in two, so per-probe bucket width stays bounded as
    the corpus grows WITHOUT moving any other cluster's boundary (a
    re-train reassigns everything; a split touches only the fat
    cluster's members). This is the stored-index twin of the
    ann_ivf_scaled K = sqrt(N) rule: run after each compaction, the
    centroid count tracks the corpus and per-probe work stays ~N/K
    bounded instead of growing linearly at fixed K.

    Deterministic 2-means split (both engines reproducible):
    seed_a = the member with the LOWEST vec_id; seed_b = the member
    FARTHEST from seed_a (lowest 6dp-rounded cosine, ties to lowest
    vec_id); members side with seed_b only when strictly closer to it
    (6dp-rounded cosine — ties stay with seed_a); then ONE Lloyd
    refinement of the side assignment — 6dp elementwise means of the
    two seed-halves become the child candidates and every member
    re-sides with the nearer mean (strictly-closer-to-b, same tie
    rule). The refinement is what makes splits BALANCED on correlated
    data: raw farthest-point seeds put seed_b on the cluster fringe
    and peel a sliver, while the mean step pulls the cut to the mass
    midpoint (same reason every builder here runs a Lloyd step after
    seeding). A degenerate all-identical cluster takes the a-side
    throughout and mints no new id. The a-half keeps
    the parent centroid_id; the b-half gets ``max_id + rank`` (rank =
    1-based position of the parent among split clusters ordered by
    id). Child centroid vectors are recomputed as the 6dp elementwise
    member mean of the FINAL membership.

    Folds ingest segments and applies tombstones like
    compact_ivf_index (same temp-dir + meta-last + near-atomic swap;
    the ``ingests``/``deletes`` lists clear). Assignment of UNSPLIT
    clusters is untouched — frozen facts stay frozen. Returns the
    number of clusters ACTUALLY SPLIT — child centroids minted (a
    degenerate all-identical over-bound cluster is processed but
    mints nothing and counts 0). 0 from a below-bound index means no
    swap happened; 0 can also mean a swap that processed only
    degenerate clusters (segments still fold in that case).

    Two bound modes. The default RELATIVE bound ``width_factor * N/K``
    fixes SKEW — it fires only on clusters fatter than their peers, so
    a uniformly grown index never splits. Pass ``max_width`` for the
    ABSOLUTE bound a growing stored index needs: with max_width kept
    ~2*sqrt(N) (the per-probe optimum — probe cost is K centroids +
    one bucket), K tracks sqrt(N) as the corpus grows, which is the
    stored-index form of ann_ivf_scaled's build-time K = sqrt(N) rule
    (see split_until_bounded and scripts/split_stress.py for the
    measured 50x regime change).

    Cost: two tiny scalar aggs (N, K — same driver-scalar pattern as
    ann_ivf_scaled's metadata count), one groupBy count over the
    index, then seed/side joins that BROADCAST <=K-row tables against
    only the wide clusters' members; the centroid-mean shuffle carries
    split members only. One pass may leave a lopsided child still
    over the bound — run per compaction cycle; widths converge
    geometrically."""
    import math

    from . import artifacts

    meta = artifacts.load_meta(index_path)
    if meta is None:
        return 0
    idx = read_ivf_index(spark, index_path)
    dels = read_ivf_tombstones(spark, index_path)
    if dels is not None:
        idx = idx.join(F.broadcast(dels), "vec_id", "left_anti")
    cent = read_parquet(spark, f"{index_path}/centroids")

    n = idx.count()
    k = cent.count()
    if k == 0:
        return 0
    bound = max_width if max_width is not None else math.ceil(
        width_factor * n / k
    )
    from pyspark.sql import Window

    wide = (
        idx.groupBy("centroid_id")
        .count()
        .filter(F.col("count") > bound)
        .select("centroid_id")
    )
    n_wide = wide.count()
    if n_wide == 0:
        return 0
    # GUARD on the global window below (round 11, verdict #9): its
    # input is the wide-centroid list, bounded by K by construction
    # (wide is a filtered projection of the per-centroid counts).
    # n_wide and k are both already-driver-known scalars, so the bound
    # is enforced for free — if the invariant ever breaks (e.g. a
    # future refactor feeds per-member rows in here), the job fails
    # loudly instead of silently sorting an unbounded input on one
    # task.
    if n_wide > k:
        raise AssertionError(
            f"split_wide_clusters: {n_wide} wide-centroid rows exceed "
            f"K={k} — single-task b_id window input must stay "
            "centroid-bounded"
        )
    max_cid = cent.agg(F.max("centroid_id")).first()[0]
    # <=K rows: the single-partition window is a scalar-sized sort
    wide_ids = wide.withColumn(
        "b_id",
        F.lit(max_cid)
        + F.row_number().over(Window.orderBy("centroid_id")),
    ).localCheckpoint(eager=True)

    members = idx.join(F.broadcast(wide_ids), "centroid_id")
    sa = members.groupBy("centroid_id").agg(F.min("vec_id").alias("sa_id"))
    sa_v = (
        members.join(F.broadcast(sa), "centroid_id")
        .filter(F.col("vec_id") == F.col("sa_id"))
        .select("centroid_id", F.col("v").alias("sa_v"))
    )
    scored_a = members.join(F.broadcast(sa_v), "centroid_id").withColumn(
        "cos_a", F.round(cosine_col("v", "sa_v"), 6)
    )
    wb = Window.partitionBy("centroid_id").orderBy(F.asc("cos_a"), "vec_id")
    sb_v = (
        scored_a.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("centroid_id", F.col("v").alias("sb_v"))
    )
    sided0 = (
        scored_a.join(F.broadcast(sb_v), "centroid_id")
        .withColumn("cos_b", F.round(cosine_col("v", "sb_v"), 6))
        .select(
            "centroid_id",
            "b_id",
            "vec_id",
            "v",
            (F.col("cos_b") > F.col("cos_a")).alias("side_b"),
        )
    )

    def _side_mean(df: DataFrame, flag: bool, out: str) -> DataFrame:
        return centroid_means(
            df.filter(F.col("side_b") == flag)
        ).withColumnRenamed("cv", out)

    # one Lloyd step over the seed halves: re-side every member with
    # the nearer of the two half-means (a parent whose b-half is empty
    # has a NULL mb_v -> NULL cosine -> the otherwise() a-branch, on
    # both engines)
    split_index = (
        sided0.join(F.broadcast(_side_mean(sided0, False, "ma_v")),
                    "centroid_id")
        .join(F.broadcast(_side_mean(sided0, True, "mb_v")),
              "centroid_id", "left")
        .select(
            "vec_id",
            "v",
            F.when(
                F.round(cosine_col("v", "mb_v"), 6)
                > F.round(cosine_col("v", "ma_v"), 6),
                F.col("b_id"),
            )
            .otherwise(F.col("centroid_id"))
            .alias("centroid_id"),
        )
        # consumed by both the index write and the child-centroid
        # mean; pin once instead of recomputing the seed chain twice
        .localCheckpoint(eager=True)
    )
    keep_index = idx.join(
        F.broadcast(wide_ids.select("centroid_id")), "centroid_id", "left_anti"
    ).select("vec_id", "v", "centroid_id")
    new_index = keep_index.unionByName(split_index)
    child_cent = centroid_means(split_index)
    new_cent = cent.join(
        F.broadcast(wide_ids.select("centroid_id")), "centroid_id", "left_anti"
    ).select("centroid_id", "cv").unionByName(child_cent)

    def build(tmp: str) -> None:
        new_cent.write.mode("overwrite").parquet(f"{tmp}/centroids")
        # bound files-per-bucket without serializing bucket reads:
        # a bare partitionBy write leaves every task writing a sliver
        # per bucket it holds (files = tasks x buckets, fragmenting
        # across repeated split passes), while repartition(centroid_id)
        # alone lands each bucket in ONE file — which caps local probe
        # parallelism at one task per bucket (parquet splits by row
        # group; small-file buckets are one split). The vec_id salt
        # keeps <=8 files per bucket: compact AND probe-parallel.
        new_index.repartition(
            F.col("centroid_id"), F.pmod(F.col("vec_id"), F.lit(8))
        ).write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{tmp}/index"
        )

    # clusters ACTUALLY split = distinct minted child ids in the final
    # membership (b_ids only appear when a member strictly re-sided);
    # split_index is localCheckpointed above, so this is a count over
    # pinned rows, not a recompute of the seed chain
    n_split = (
        split_index.filter(F.col("centroid_id") > max_cid)
        .select("centroid_id")
        .distinct()
        .count()
    )
    artifacts.swap(index_path, build, {**meta, "ingests": [], "deletes": []})
    return n_split


def split_until_bounded(
    spark, index_path: str, max_width: int, max_passes: int = 16
) -> int:
    """Iterate split_wide_clusters with an ABSOLUTE width bound until
    every bucket fits (or nothing can move): each pass halves the
    over-bound clusters along their farthest-pair axis, so a bucket
    ``w`` wide needs ~log2(w / max_width) passes — with max_width kept
    ~2*sqrt(N) this is how a STORED index's K catches up with corpus
    growth without the full re-train (the build-time rule is
    ann_ivf_scaled's K = ceil(sqrt(N))). Stops early when a pass mints
    no new centroid (only degenerate all-identical clusters remain
    over the bound — unsplittable by definition). Returns total
    clusters split. Each pass is a full artifact swap; run as the
    compaction step of a maintenance cycle, not per ingest."""
    total = 0
    for _ in range(max_passes):
        k_before = read_parquet(spark, f"{index_path}/centroids").count()
        n = split_wide_clusters(spark, index_path, max_width=max_width)
        if n == 0:
            break
        total += n
        k_after = read_parquet(spark, f"{index_path}/centroids").count()
        if k_after == k_before:
            break
    return total


def ivf_drift_guard(
    spark, index_path: str, max_segment_fraction: float = 0.3
) -> bool:
    """The retrain TRIGGER: when ingest segments hold more than
    ``max_segment_fraction`` of the indexed vectors, re-train +
    re-index (retrain_ivf_index) and return True; otherwise leave the
    index untouched and return False. Run after each maintain cycle —
    the frozen-centroid append path stays delta-proportional until
    drift actually accumulates."""
    if ivf_segment_fraction(spark, index_path) <= max_segment_fraction:
        return False
    retrain_ivf_index(spark, index_path)
    return True
