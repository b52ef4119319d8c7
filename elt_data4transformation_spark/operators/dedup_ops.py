"""Set-similarity dedup operators, built for scale.

- ``jaccard_pairs``: sparse inverted-index join — explode token sets,
  equi-join on (block, token) to count intersections, derive the union
  from per-doc set sizes. Never materializes a quadratic candidate
  array comparison; the shuffle key is the token, and hot tokens can be
  pre-filtered (df idf cap) at 100 TB.
- ``minhash_lsh_pairs``: portable MinHash (lexicographic min of
  MD5(i||'|'||shingle)) banded into LSH keys; candidates come from a
  band-key equi-join; exact Jaccard re-scores candidates only.

Reference analog: T5 trigram title dedup
(migrations/0006_title_dedup.sql:51-72) — pg_trgm's similarity index
becomes LSH banding + exact re-score.

Cache ownership: operators persist() bounded intermediates (posting
lists, band tables, candidate pairs) and deliberately do NOT unpersist
before returning — the returned plan still references them lazily.
The CALLER owns cache lifetime: bench.py and the audit scripts call
spark.catalog.clearCache() between queries, and the test suite clears
after every test (conftest autouse fixture).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textfns as T
from ..sources import read_parquet


def jaccard_pairs(
    sets_df: DataFrame,
    id_col: str,
    set_col: str,
    block_col: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Pairwise Jaccard over distinct-element array column ``set_col``,
    restricted to pairs sharing >= 1 element (sparse join), optionally
    blocked by ``block_col``. Output: block, doc_a, doc_b, jac (+
    exact inter_size / n_a / n_b).

    ``max_df`` is the HOT-TOKEN CAP for the inverted index (SCALE.md
    joins section): tokens appearing in more than ``max_df`` documents
    of a block are dropped from CANDIDATE GENERATION — they contribute
    ~0 Jaccard discrimination but quadratic join fan-out. Candidates
    then re-score EXACTLY on the full token sets (array_intersect), so
    precision is unchanged; recall is lost only for pairs ALL of whose
    shared tokens are hotter than the cap. ``None`` (default) keeps
    the single-join count-based path with no rescore."""
    block = F.col(block_col) if block_col else F.lit("_all")
    # materialize the per-doc set frame once — ONE level above the
    # former posting-list persist, for two reasons:
    # 1. both sides of the self-join (and the capped path's rescore)
    #    would otherwise re-run the n-gram projection — the single
    #    most expensive expression in the plan;
    # 2. the cache is a PREDICATE-PUSHDOWN BARRIER for the filter that
    #    InferFiltersFromGenerate derives from the explode below
    #    (size(_set) > 0): without it that filter pushes through the
    #    projections and INLINES the whole n-gram expression into the
    #    scan filter — including the split() the callers deliberately
    #    name first, re-inlined into every element_at = O(words^2)
    #    re-splits per doc (measured: the explode stage ran 2.5-3.8 s
    #    at sf0.1 vs 0.3 s for the grams projection itself). Against
    #    the cache the inferred filter is a cheap size() probe.
    base = sets_df.select(
        block.alias("_blk"),
        F.col(id_col).alias("_id"),
        F.col(set_col).alias("_set"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tok = base.select(
        "_blk",
        "_id",
        F.size("_set").cast("long").alias("_n"),
        F.explode("_set").alias("_tok"),
    )
    join_tok = tok
    if max_df is not None:
        rare = (
            tok.groupBy("_blk", "_tok")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_blk", "_tok")
        )
        join_tok = tok.join(rare, ["_blk", "_tok"], "left_semi")
    a = join_tok.select(
        F.col("_blk"),
        F.col("_id").alias("doc_a"),
        F.col("_n").alias("_na"),
        F.col("_tok"),
    )
    b = join_tok.select(
        F.col("_blk").alias("_blk_b"),
        F.col("_id").alias("doc_b"),
        F.col("_n").alias("_nb"),
        F.col("_tok").alias("_tok_b"),
    )
    joined = a.join(
        b,
        (F.col("_blk") == F.col("_blk_b"))
        & (F.col("_tok") == F.col("_tok_b"))
        & (F.col("doc_a") < F.col("doc_b")),
    )
    if max_df is None:
        # no cap: every shared token survives the join, so the row
        # count per pair IS the exact intersection size — no rescore
        inter = joined.groupBy("_blk", "doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias("_inter"),
            F.first("_na").alias("_na"),
            F.first("_nb").alias("_nb"),
        )
    else:
        # capped: the join undercounts (hot tokens removed), so it
        # yields CANDIDATES only; re-score exactly on the full sets.
        # The rescore join carries _blk — ids are only guaranteed
        # unique WITHIN a block (that's what block_col exists for), so
        # joining on the bare id would fan out across blocks and
        # mis-score pairs; (_blk, id) keeps the rescore block-scoped,
        # exactly like the uncapped path's (_blk, doc_a, doc_b) group.
        cand = joined.select("_blk", "doc_a", "doc_b").distinct()
        sa = base.select(
            "_blk",
            F.col("_id").alias("doc_a"),
            F.col("_set").alias("_seta"),
            F.size("_set").cast("long").alias("_na"),
        )
        sb = base.select(
            "_blk",
            F.col("_id").alias("doc_b"),
            F.col("_set").alias("_setb"),
            F.size("_set").cast("long").alias("_nb"),
        )
        inter = (
            cand.join(sa, ["_blk", "doc_a"])
            .join(sb, ["_blk", "doc_b"])
            .select(
                "_blk",
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("_seta", "_setb"))
                .cast("long")
                .alias("_inter"),
                "_na",
                "_nb",
            )
        )
    return inter.select(
        F.col("_blk").alias("block"),
        "doc_a",
        "doc_b",
        (
            F.col("_inter").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_inter"))
        ).alias("jac"),
        # exact intersection/set sizes, so callers can derive other
        # overlap measures (containment, overlap coefficient) without
        # a second join
        F.col("_inter").alias("inter_size"),
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
    )


def _slice_min(digests: Column, start: int) -> Column:
    def sl(x: Column) -> Column:
        return F.substring(x, start, 8)

    return F.array_min(F.transform(digests, sl))


def minhash_signature(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    n_hashes: int = 8,
    n_bands: int = 2,
) -> DataFrame:
    """Append mh0..mh{n-1} and band0..band{b-1} columns.

    The md5 digests (one per salt group of 4 slices) are projected ONCE
    per document, then each hash function is a cheap substring slice —
    see functions/textfns.py minhash_col for the hash-family definition.
    """
    n_groups = (n_hashes + 3) // 4
    digested = df.select(
        F.col(id_col),
        F.col(shingles_col),
        *[
            F.transform(
                F.col(shingles_col),
                (lambda salt: lambda s: F.md5(F.concat(F.lit(salt), s)) if salt else F.md5(s))(
                    T._MH_SALTS[g]
                ),
            ).alias(f"_d{g}")
            for g in range(n_groups)
        ],
    )
    sig = digested.select(
        F.col(id_col),
        F.col(shingles_col),
        *[
            _slice_min(F.col(f"_d{i // 4}"), (i % 4) * 8 + 1).alias(f"mh{i}")
            for i in range(n_hashes)
        ],
    )
    per_band = n_hashes // n_bands
    for b in range(n_bands):
        cols = [F.col(f"mh{i}") for i in range(b * per_band, (b + 1) * per_band)]
        sig = sig.withColumn(f"band{b}", F.md5(F.concat(*cols)))
    return sig


def band_table(sig: DataFrame, id_col: str, n_bands: int) -> DataFrame:
    """Long-form LSH index rows (id, band_idx, band_key) from a
    signature table carrying band0..band{n-1} columns. This is the
    shape the index is stored in at scale: partitioned/bucketed by
    band_key so probes are shuffle-free equi-joins."""
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.col(f"band{b}").alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bd"),
    ).select(id_col, "bd.band_idx", "bd.band_key")


def capped_band_candidates(
    bands: DataFrame, id_col: str = "_id", max_bucket: int | None = None
) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) from a long-form (id, band_idx,
    band_key) table, with the MEGA-BUCKET FAN-OUT CAP.

    A band bucket of width w emits w*(w-1)/2 pairs — a 100 TB crawl
    WILL contain boilerplate mega-clusters (cookie banners, licence
    pages) whose buckets make that quadratic. Buckets wider than
    ``max_bucket`` therefore fall back to a deterministic HUB STAR:
    (bucket-min id, member) — w-1 pairs instead of w^2/2, preserving
    the bucket's connectivity through the hub (after the exact
    re-score, every member that truly is a near-dup of the hub stays
    in the hub's component). Recall cost: a member-member pair of a
    mega bucket that is NOT near-dup to the hub and shares no other
    band is lost — measured and asserted in tests. ``None`` disables
    the cap (legacy all-pairs)."""
    a = bands.alias("a")
    b = bands.alias("b")
    if max_bucket is None:
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
            )
            .distinct()
        )
    # ONE shuffle instead of the former widths-agg + semi-join +
    # self-join + star-join cascade (round 10, guide §2.4/§3: a
    # same-key self-join only re-pairs rows the bucket shuffle already
    # co-located — expand the pairs IN the bucket instead): rank the
    # bucket members in a window over the SAME (band_idx, band_key)
    # key, then
    #   - head rows (rank <= cap+1) collect into a per-bucket sorted
    #     array (bounded at cap+1 elements, so aggregation state stays
    #     O(cap) no matter how degenerate the bucket) — co-partitioned
    #     after the window, so the aggregate adds NO exchange;
    #   - a bucket whose array is <= cap wide is a normal bucket: all
    #     C(w,2) ordered pairs expand in-array (w <= cap keeps that
    #     quadratic bounded, exactly the old join's fan-out);
    #   - a wider bucket is a MEGA bucket degrading to the hub star:
    #     head members pair with the hub from the array, tail members
    #     (rank > cap+1) STREAM through as (hub, member) rows straight
    #     off the window columns — no array ever holds a mega bucket.
    # Output is identical to the join form (verified row-set-equal at
    # sf0.1); measured 1.84 s -> 1.04 s on the stored-band fixture.
    wspec = Window.partitionBy("band_idx", "band_key")
    ranked = bands.select(
        "band_idx",
        "band_key",
        F.col(id_col).alias("_mid"),
        F.row_number().over(wspec.orderBy(id_col)).alias("_r"),
        F.min(id_col).over(wspec).alias("_hub"),
    )
    tail_star = ranked.filter(F.col("_r") > max_bucket + 1).select(
        F.col("_hub").alias("doc_a"), F.col("_mid").alias("doc_b")
    )
    head = (
        ranked.filter(F.col("_r") <= max_bucket + 1)
        .groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("_mid")).alias("_m"))
    )
    m = F.col("_m")
    ok_pairs = F.flatten(
        F.transform(
            m,
            lambda x, i: F.transform(
                F.slice(m, i + F.lit(2), F.size(m)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    head_star = F.transform(
        F.slice(m, 2, F.size(m)),
        lambda y: F.struct(
            F.element_at(m, 1).alias("doc_a"), y.alias("doc_b")
        ),
    )
    pairs = F.when(F.size(m) <= max_bucket, ok_pairs).otherwise(head_star)
    normal = head.select(F.explode(pairs).alias("_p")).select(
        "_p.doc_a", "_p.doc_b"
    )
    return normal.unionByName(tail_star).distinct()


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle: int = 5,
    n_hashes: int = 8,
    n_bands: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    pre_sh: DataFrame | None = None,
    pre_bands: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs with exact-Jaccard re-score >= threshold.
    Output: doc_a, doc_b, jaccard_raw (unrounded).

    ``max_bucket`` bounds per-band-bucket candidate fan-out (see
    capped_band_candidates — mega buckets degrade to a hub star).

    Cost shape: the full-corpus shingle arrays are never persisted or
    shuffled — signatures consume them inline in one scan, and the
    re-score recomputes shingles only for documents that appear in a
    candidate pair (semi-join on candidate ids). Persisted state is the
    tiny (id, band) table and the candidate-id pairs; at 100 TB the
    candidate side is the near-dup fraction of the corpus, so the
    re-score join broadcasts (AQE has real size stats from the eager
    materialization) instead of shuffling arrays per pair.

    ``pre_sh``/``pre_bands`` (stored-segment column shape:
    (id, shingles, n_sh) / (id, band_idx, band_key)) substitute a
    SIGNATURE STORE for both the signature pass and the re-score's
    shingle recomputation — signatures are pure per-row functions of
    the text, so stored and computed rows are identical and every
    downstream value (candidates, jaccard) is unchanged."""
    if pre_bands is not None:
        # stored path: the band table is a cheap narrow parquet read —
        # persisting still pays once, but the eager-count JOB WAVE is
        # pure floor (re-scanning the store beats a scheduling round
        # trip; measured round 8, ~0.3-0.4 s per wave at sf0.1)
        bands = pre_bands.select(
            F.col(id_col).alias("_id"), "band_idx", "band_key"
        ).persist(StorageLevel.MEMORY_AND_DISK)
    else:
        sh = docs.select(
            F.col(id_col).alias("_id"),
            T.char_shingles_col(shingle, text_col).alias("_sh"),
        )
        sig = minhash_signature(sh, "_id", "_sh", n_hashes, n_bands)
        bands = (
            band_table(sig, "_id", n_bands)
            # tiny (id, band) table; caching it keeps the md5 signature
            # computation from running once per side of the self-join
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        bands.count()  # eager: self-join sides can't dedupe a cold cache
    cand = (
        capped_band_candidates(bands, "_id", max_bucket)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # (no eager count on cand: the sh_c count below is its first
    # consumer and populates the cache in the same job wave)
    # no .distinct(): a left_semi probe dedups by construction, and the
    # distinct would be one more exchange on the narrow id stream
    ids = cand.select(F.col("doc_a").alias(id_col)).union(
        cand.select(F.col("doc_b").alias(id_col))
    )
    if pre_sh is not None:
        # stored shape carries the packed sh_hash LONG arrays — the
        # rescore intersects integers, never the raw shingle strings
        sh_c = (
            pre_sh.join(ids, id_col, "left_semi")
            .select(
                F.col(id_col).alias("_id"),
                F.col("sh_hash").alias("_sh"),
                F.col("n_sh").alias("_n"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    else:
        sh_c = (
            docs.join(ids, id_col, "left_semi")
            .select(
                F.col(id_col).alias("_id"),
                T.char_shingles_col(shingle, text_col).alias("_sh"),
            )
            .select("_id", "_sh", F.size("_sh").alias("_n"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
    sh_c.count()  # eager: real size stats let AQE broadcast the re-score
    sa = sh_c.select(
        F.col("_id").alias("doc_a"),
        F.col("_sh").alias("_sa"),
        F.col("_n").alias("_na"),
    )
    sb = sh_c.select(
        F.col("_id").alias("doc_b"),
        F.col("_sh").alias("_sb"),
        F.col("_n").alias("_nb"),
    )
    # |A∪B| from precomputed set sizes — array_distinct(concat(a,b))
    # would re-hash every element per candidate pair for a number the
    # sizes already determine. Project the intersect SIZE into a
    # narrow column BEFORE the threshold gate: Catalyst does not CSE
    # a repeated expensive subexpression across a division's
    # numerator/denominator/filter, so the inline form evaluated the
    # intersect 2-3x per pair (same fix as _probe_with_signatures;
    # the 0.5 operating point gates on the exact integer equivalence
    # jac >= 0.5 <=> 2i >= na+nb-i, so survivors alone pay the
    # division).
    narrow = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sa", "_sb")).cast("long").alias(
                "_i"
            ),
            F.col("_na").cast("long").alias("_na"),
            F.col("_nb").cast("long").alias("_nb"),
        )
    )
    den = F.col("_na") + F.col("_nb") - F.col("_i")
    if threshold == 0.5:
        gated = narrow.filter(F.col("_i") * 2 >= den)
    else:
        gated = narrow.filter(F.col("_i").cast("double") / den >= threshold)
    return gated.select(
        "doc_a",
        "doc_b",
        (F.col("_i").cast("double") / den).alias("jaccard_raw"),
    )


PROBE_MAX_CANDIDATES = 64  # rescored candidates per probe doc (capped)

# Probe-side broadcast ceiling (delta DOCS, not rows): the fused probe
# broadcasts (a) the capped candidate pairs — delta_docs x
# PROBE_MAX_CANDIDATES (id, id) rows — and (b) the delta shingle
# arrays — one ~10^3-element LONG array (~8 KB) per delta doc. Both
# are comfortably under Spark's 8 GB broadcast hard limit for the
# ingest-batch sizes this engine feeds (<= ~1e5 docs per drain), but a
# bulk caller probing millions of docs in ONE delta would blow the
# limit and the driver heap — a ceiling the old persisted-shuffle
# shape did not have. Callers that know their delta size pass it via
# ``delta_rows``; past this bound the probe falls back to shuffle
# joins (slower per probe, no ceiling).
BROADCAST_DELTA_MAX_DOCS = 100_000


def pack_band_keys(bands: DataFrame) -> DataFrame:
    """Pack string (md5) band keys to LONG for the AT-REST index
    representation: equality structure is all a band key carries (it is
    only ever an equi-join key, never output), so any injective-in-
    practice mapping preserves semantics while making the stored join
    key an 8-byte integer. Every stored band table AND every fresh
    probe batch joined against one must pass through this — both sides
    packed, or neither."""
    return bands.withColumn("band_key", F.xxhash64("band_key"))


def write_band_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = 5,
    n_hashes: int = 8,
    n_bands: int = 2,
    partition_mod: int | None = None,
) -> None:
    """Build and STORE the near-dup index as parquet artifacts — the
    cross-run production shape: ``<path>/bands`` holds the long-form
    (id, band_idx, band_key) LSH index, ``<path>/shingles`` the
    (id, shingles, set size) needed for the exact re-score. A later
    ingest probes these artifacts (probe_band_index) with work
    proportional to the DELTA — the corpus is never re-shingled, not
    even for matched rows, because the re-score reads stored shingles.

    At cluster scale both artifacts would be bucketed by their join
    key (band_key / id) so probes are shuffle-free; plain parquet here
    (bucketed writes need a metastore table), partitioned by band_idx
    so a probe that only generates some bands prunes the rest.

    AT-REST PACKING: the stored representation is packed to LONGs at
    publication time — band keys become ``xxhash64(md5-band-key)`` and
    the shingle table additionally carries ``sh_hash`` =
    per-element ``xxhash64`` of the shingle strings — so probe joins
    compare 8-byte integers and the exact-Jaccard rescore intersects
    LONG arrays, never strings (measured ~1.8x on the intersect hot
    loop, plus narrower shuffle keys). Purely a representation choice:
    xxhash64 is deterministic and injective in practice at any
    realistic shingle/bucket cardinality (collision odds ~n^2/2^64),
    the raw ``shingles`` strings stay stored for consumers that need
    them, and the DuckDB oracles keep recomputing from raw text —
    exact-hash parity is unchanged.

    ``partition_mod`` additionally DIRECTORY-PARTITIONS both tables by
    a ``doc_mod`` = id % mod column — the single-node moral of
    bucketing the store by doc id: a probe whose batch is an id class
    (the ingest-mod fixtures; in production, an id/time range) filters
    on ``doc_mod`` and the scan PRUNES every other class's directories
    instead of reading and row-filtering the whole store (asserted in
    the plan test). Consumers that filter by something other than the
    id class still row-filter — the column is additive."""
    sh = docs.select(
        F.col(id_col).alias(id_col),
        T.char_shingles_col(shingle, text_col).alias("shingles"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sig = minhash_signature(sh, id_col, "shingles", n_hashes, n_bands)
    bands = pack_band_keys(band_table(sig, id_col, n_bands))
    band_parts, sh_parts = ["band_idx"], []
    if partition_mod is not None:
        doc_mod = (F.col(id_col) % partition_mod).alias("doc_mod")
        bands = bands.select("*", doc_mod)
        band_parts.append("doc_mod")
        sh_parts.append("doc_mod")
    from . import artifacts

    artifacts.sized(bands, *band_parts).write.mode("overwrite").partitionBy(
        *band_parts
    ).parquet(f"{path}/bands")
    sh_out = sh.select(
        id_col,
        "shingles",
        F.size("shingles").cast("long").alias("n_sh"),
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh_hash"),
    )
    if partition_mod is not None:
        sh_out = sh_out.select(
            "*", (F.col(id_col) % partition_mod).alias("doc_mod")
        )
    w = artifacts.sized(sh_out, *sh_parts).write.mode("overwrite")
    if sh_parts:
        w = w.partitionBy(*sh_parts)
    w.parquet(f"{path}/shingles")
    sh.unpersist()


def _index_segments(index_path: str) -> tuple[list[str], list[str]]:
    """Band/shingle parquet directories making up a stored index: the
    base segment plus every MERGED ingest segment listed in the
    artifact meta (operators/artifacts.py). Segments not listed in the
    meta are orphans from a crashed merge and are ignored — the merge
    protocol writes the segment first and stamps the meta LAST, so a
    half-written segment can never be read."""
    from . import artifacts

    meta = artifacts.load_meta(index_path) or {}
    tags = meta.get("ingests", [])
    bands = [f"{index_path}/bands"] + [
        f"{index_path}/bands_ingest_{t}" for t in tags
    ]
    shingles = [f"{index_path}/shingles"] + [
        f"{index_path}/shingles_ingest_{t}" for t in tags
    ]
    return bands, shingles


def _read_segments(spark, dirs: list[str]) -> DataFrame:
    out = read_parquet(spark, dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(read_parquet(spark, d))
    return out


def _delete_segments(index_path: str) -> list[str]:
    """Tombstone parquet directories of a stored index: one per DELETE
    listed in the artifact meta. Same orphan rule as data segments — a
    tombstone not listed in the meta is a crashed delete and is
    ignored (segment written first, meta stamped last)."""
    from . import artifacts

    meta = artifacts.load_meta(index_path) or {}
    return [
        f"{index_path}/deletes_{t}" for t in meta.get("deletes", [])
    ]


def delete_from_band_index(
    spark,
    index_path: str,
    doc_ids: DataFrame,
    tag: str,
    id_col: str = "doc_id",
) -> None:
    """DELETE documents from a stored band index by TOMBSTONE — the
    removal half of the LSM lifecycle (takedown / GDPR erasure /
    retraction; reference analog: the delete-then-insert upsert,
    elt/loader_clickhouse.py:530-573, and the rejected-status machine,
    study_scraper/storage/postgres.py:345-378). Base and ingest
    segments are append-only, so removal follows the same rule as
    addition: write a ``deletes_<tag>`` segment holding the deleted
    ids; probes ANTI-JOIN matched ids against the union of tombstones
    (probe output can never surface a deleted doc), and compaction
    (compact_band_index) applies tombstones PHYSICALLY — the folded
    base drops the rows and the meta's deletes list resets. The caller
    stamps the meta (deletes list + fingerprint) AFTER this returns; a
    crash in between leaves an unlisted orphan the readers ignore, so
    the delete is atomic-or-absent. Cost: tombstones are tiny (ids
    only) and broadcast into the probe — no index rewrite per delete."""
    doc_ids.select(F.col(id_col)).distinct().write.mode(
        "overwrite"
    ).parquet(f"{index_path}/deletes_{tag}")


def merge_band_index(
    spark,
    index_path: str,
    delta: DataFrame,
    tag: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = 5,
    n_hashes: int = 8,
    n_bands: int = 2,
) -> None:
    """MERGE a probed batch into a stored band index so the NEXT ingest
    dedups against everything before it — the always-extending store
    shape (reference analog: the idempotent upsert loop,
    study_scraper/storage/postgres.py:1160-1239). The batch's bands and
    shingles are written as a fresh ``*_ingest_<tag>`` SEGMENT beside
    the base artifacts (LSM-style: append a segment, never rewrite the
    base — at 100 TB a compactor folds cold segments together). The
    caller stamps the artifact meta (fingerprint + ingests list) AFTER
    this returns; a crash in between leaves an unlisted orphan segment
    that readers ignore, so the merge is atomic-or-absent."""
    sh = delta.select(
        F.col(id_col).alias(id_col),
        T.char_shingles_col(shingle, text_col).alias("shingles"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    from . import artifacts

    sig = minhash_signature(sh, id_col, "shingles", n_hashes, n_bands)
    artifacts.sized(
        pack_band_keys(band_table(sig, id_col, n_bands)), "band_idx"
    ).write.mode("overwrite").partitionBy("band_idx").parquet(
        f"{index_path}/bands_ingest_{tag}"
    )
    artifacts.sized(
        sh.select(
            id_col,
            "shingles",
            F.size("shingles").cast("long").alias("n_sh"),
            F.transform("shingles", lambda s: F.xxhash64(s)).alias("sh_hash"),
        )
    ).write.mode("overwrite").parquet(f"{index_path}/shingles_ingest_{tag}")
    sh.unpersist()


def compact_band_index(spark, index_path: str) -> bool:
    """Fold every merged ingest segment back into the base artifacts —
    the COMPACTION half of the LSM lifecycle merge_band_index starts:
    merges keep probes delta-proportional, but each adds a segment and
    probe cost grows with segment count, so a periodic compactor
    rewrites (base + segments) as one new base and clears the meta's
    ingests list. TOMBSTONES (delete_from_band_index) are applied
    PHYSICALLY here: the folded base anti-joins the deleted ids out of
    both the band and shingle tables and the meta's deletes list
    resets — the logical delete probes already honored becomes real
    reclaimed space. The rewrite goes through the same temp-dir +
    meta-last + atomic-rename protocol as any build
    (operators/artifacts.swap), so a crashed compaction leaves the
    OLD artifact fully intact — compaction is repeatable, never
    partial. Returns False when there is nothing to compact.
    Logical content (and the source fingerprint) is unchanged: probes
    return identical rows before and after (tested)."""
    from . import artifacts

    meta = artifacts.load_meta(index_path)
    if not meta or not (meta.get("ingests") or meta.get("deletes")):
        return False
    band_dirs, shingle_dirs = _index_segments(index_path)
    bands = _read_segments(spark, band_dirs)
    sh = _read_segments(spark, shingle_dirs)
    del_dirs = _delete_segments(index_path)
    if del_dirs:
        id_col = sh.columns[0]  # write order: (id, shingles, n_sh)
        dels = _read_segments(spark, del_dirs).select(id_col).distinct()
        bands = bands.join(F.broadcast(dels), id_col, "left_anti")
        sh = sh.join(F.broadcast(dels), id_col, "left_anti")

    def build(tmp: str) -> None:
        # the writes read the old artifact while it still exists; the
        # swap happens only after both folded tables are on disk
        artifacts.sized(bands, "band_idx").write.mode("overwrite").partitionBy(
            "band_idx"
        ).parquet(f"{tmp}/bands")
        artifacts.sized(sh).write.mode("overwrite").parquet(f"{tmp}/shingles")

    artifacts.swap(index_path, build, {**meta, "ingests": [], "deletes": []})
    return True


def ingest_band_index(
    spark,
    index_path: str,
    delta: DataFrame,
    tag: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = 5,
    n_hashes: int = 8,
    n_bands: int = 2,
    threshold: float = 0.5,
    idx_bands: DataFrame | None = None,
    idx_sh: DataFrame | None = None,
    delta_sig: DataFrame | None = None,
):
    """Probe + merge sharing ONE shingle/signature pass — the fused
    form of probe_band_index followed by merge_band_index, which would
    otherwise re-shingle and re-hash the same batch twice (the exact
    waste the stored-index family exists to avoid). Returns
    ``(scored, merge, seg_bands, seg_sh, release)``: ``scored`` is the
    probe result plan; ``merge()`` writes the batch's already-computed
    bands+shingles as the ``tag`` segment; ``seg_bands``/``seg_sh``
    are those same frames in stored-segment column shape, still
    persisted — a caller running an ingest LOOP unions them into its
    in-memory index view so the next probe reads nothing back from
    the segment it just wrote (write once, reference twice);
    ``release()`` unpersists the batch's cached frames — the caller
    calls it once the segment is durable AND its in-memory view no
    longer needs the frames (end of loop, or after re-pointing the
    view at the written segment), so a long-running ingest loop does
    not accumulate one pinned batch pair per drain. The caller MUST
    materialize ``scored`` before calling ``merge()`` (and stamps the
    meta after), keeping the probe-sees-only-prior-state ordering. ``idx_bands``/``idx_sh``
    override the artifact read with caller-held index frames (e.g.
    the base read once + prior in-memory segments) — same rows, one
    disk scan per artifact per loop instead of per batch.

    ``delta_sig`` skips even the fused signature pass: the arriving
    batch ALREADY CARRIES its signatures (doc_id, text, shingles,
    n_sh, sh_hash, bkeys — band keys in band order), computed once by
    the upstream writer at arrival time (the at-arrival half of the
    signature-store contract). The ingest then only probes and
    persists — zero hashing in the loop. Signatures are pure per-row
    functions of the text, so both routes yield identical rows."""
    if delta_sig is not None:
        dsig = delta_sig.persist(StorageLevel.MEMORY_AND_DISK)
        dbands = dsig.select(
            F.col(id_col).alias("_nid"),
            F.posexplode("bkeys").alias("band_idx", "band_key"),
        )
        scored = _probe_with_signatures(
            spark, index_path,
            dsig.select(
                F.col(id_col).alias("_nid"), F.col("sh_hash").alias("_sa")
            ),
            dbands, id_col, threshold,
            idx_bands=idx_bands, idx_sh=idx_sh,
        )
        seg_bands = dbands.select(
            F.col("_nid").alias(id_col), "band_idx", "band_key"
        )
        seg_sh = dsig.select(id_col, "shingles", "n_sh", "sh_hash")

        def merge_pre() -> None:
            seg_bands.coalesce(4).write.mode("overwrite").partitionBy(
                "band_idx"
            ).parquet(f"{index_path}/bands_ingest_{tag}")
            seg_sh.coalesce(4).write.mode("overwrite").parquet(
                f"{index_path}/shingles_ingest_{tag}"
            )

        return scored, merge_pre, seg_bands, seg_sh, dsig.unpersist

    dsh = delta.select(
        F.col(id_col).alias("_nid"),
        T.char_shingles_col(shingle, text_col).alias("_raw"),
    ).withColumn(
        "_sa", F.transform("_raw", lambda s: F.xxhash64(s))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    dsig = minhash_signature(dsh, "_nid", "_raw", n_hashes, n_bands)
    dbands = pack_band_keys(band_table(dsig, "_nid", n_bands)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    scored = _probe_with_signatures(
        spark, index_path,
        dsh.select("_nid", "_sa"), dbands, id_col, threshold,
        idx_bands=idx_bands, idx_sh=idx_sh,
    )
    seg_bands = dbands.select(
        F.col("_nid").alias(id_col), "band_idx", "band_key"
    )
    seg_sh = dsh.select(
        F.col("_nid").alias(id_col),
        F.col("_raw").alias("shingles"),
        F.size("_raw").cast("long").alias("n_sh"),
        F.col("_sa").alias("sh_hash"),
    )

    def merge() -> None:
        # segment-file hygiene: a delta batch is small by definition,
        # so writing it at full parallelism scatters it into dozens of
        # KB-sized files (task-commit overhead now, read/merge overhead
        # for every later probe and the compactor). A handful of files
        # per segment is the LSM-correct shape.
        seg_bands.coalesce(4).write.mode("overwrite").partitionBy(
            "band_idx"
        ).parquet(f"{index_path}/bands_ingest_{tag}")
        seg_sh.coalesce(4).write.mode("overwrite").parquet(
            f"{index_path}/shingles_ingest_{tag}"
        )

    def release() -> None:
        dsh.unpersist()
        dbands.unpersist()

    return scored, merge, seg_bands, seg_sh, release


def ingest_band_index_fused(
    spark,
    index_path: str,
    ready: list[tuple[int, DataFrame]],
    idx_bands_src: list[tuple[int, DataFrame]],
    idx_sh: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
):
    """Fused MULTI-TAG form of ingest_band_index's presigned branch
    (round 11): every ready tag's probe runs in ONE
    _probe_with_signatures pass over ONE source-tagged index view,
    with the per-tag probe-sees-only-prior-state visibility enforced
    by the ``_vsrc < _ptag`` gate instead of per-tag view construction
    — the base band/shingle artifacts are scanned once per drain
    instead of once per tag, and the drain builds one plan instead of
    one per tag. Candidate sets per probe doc are IDENTICAL to the
    sequential per-tag probes (tag t's view = base + segments of tags
    < t, which is exactly the rows passing the gate), so the scored
    output is the exact union of the per-tag outputs.

    ``ready``: [(tag, presigned delta frame)] — each delta carries
    (doc_id, text, shingles, n_sh, sh_hash, bkeys) as written by the
    upstream signature store. ``idx_bands_src``: [(src, bands frame)]
    — the caller's accumulated view, base at src -1 plus every
    previously merged segment at its tag; this batch's own segments
    join the view here, gated to later tags only. ``idx_sh``: the
    caller's accumulated shingle view (fetch-by-matched-id — needs no
    source tag; candidates are already visibility-gated).

    Precondition, checked on the Python tags (no job): ``ready`` is
    non-empty, and its tags strictly increase past every src tag in
    ``idx_bands_src`` — a reused tag would let the ``_vsrc < _ptag``
    gate hide an earlier merged segment (silent under-matching) and
    its ``bands_ingest_{tag}`` write would overwrite that segment.

    Returns ``(scored, per_tag)``; per_tag rows are
    ``(tag, merge_fn, seg_bands, seg_sh, release_fn)`` with the same
    contracts as ingest_band_index (caller materializes ``scored``
    before any ``merge_fn``, stamps meta after, releases once the
    segment is durable and the in-memory view is re-pointed)."""
    if not ready:
        raise ValueError("ingest_band_index_fused: no ready tags to drain")
    prior = max(int(src) for src, _ in idx_bands_src)
    for tag, _ in ready:
        if int(tag) <= prior:
            raise ValueError(
                f"ingest_band_index_fused: tag {tag} is not greater than "
                f"tag {prior} already in the view"
            )
        prior = int(tag)
    dbands_parts: list[DataFrame] = []
    dsh_parts: list[DataFrame] = []
    per_tag = []
    view_parts = [
        b.withColumn("_vsrc", F.lit(int(src))) for src, b in idx_bands_src
    ]
    sh_view = idx_sh
    for tag, delta_sig in ready:
        dsig = delta_sig.persist(StorageLevel.MEMORY_AND_DISK)
        db = dsig.select(
            F.col(id_col).alias("_nid"),
            F.posexplode("bkeys").alias("band_idx", "band_key"),
        )
        dbands_parts.append(db.withColumn("_ptag", F.lit(int(tag))))
        dsh_parts.append(
            dsig.select(
                F.col(id_col).alias("_nid"), F.col("sh_hash").alias("_sa")
            )
        )
        seg_bands = db.select(
            F.col("_nid").alias(id_col), "band_idx", "band_key"
        )
        seg_sh = dsig.select(id_col, "shingles", "n_sh", "sh_hash")
        view_parts.append(seg_bands.withColumn("_vsrc", F.lit(int(tag))))
        sh_view = sh_view.unionByName(seg_sh)

        def merge_pre(
            seg_bands: DataFrame = seg_bands,
            seg_sh: DataFrame = seg_sh,
            tag: int = tag,
        ) -> None:
            seg_bands.coalesce(4).write.mode("overwrite").partitionBy(
                "band_idx"
            ).parquet(f"{index_path}/bands_ingest_{tag}")
            seg_sh.coalesce(4).write.mode("overwrite").parquet(
                f"{index_path}/shingles_ingest_{tag}"
            )

        per_tag.append((tag, merge_pre, seg_bands, seg_sh, dsig.unpersist))
    dbands = dbands_parts[0]
    for p in dbands_parts[1:]:
        dbands = dbands.unionByName(p)
    dsh = dsh_parts[0]
    for p in dsh_parts[1:]:
        dsh = dsh.unionByName(p)
    vb = view_parts[0]
    for p in view_parts[1:]:
        vb = vb.unionByName(p)
    scored = _probe_with_signatures(
        spark,
        index_path,
        dsh,
        dbands,
        id_col,
        threshold,
        idx_bands=vb,
        idx_sh=sh_view,
        src_gate=True,
    )
    return scored, per_tag


def probe_band_index(
    spark,
    index_path: str,
    delta: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int = 5,
    n_hashes: int = 8,
    n_bands: int = 2,
    threshold: float = 0.5,
    delta_sh: DataFrame | None = None,
    delta_bands: DataFrame | None = None,
    idx_bands: DataFrame | None = None,
    idx_sh: DataFrame | None = None,
    delta_rows: int | None = None,
) -> DataFrame:
    """Probe a STORED band index (write_band_index, plus any merged
    ingest segments) with a new batch. Returns (new_doc_id,
    matched_doc_id, jaccard_raw) for every stored document whose exact
    shingle-Jaccard with a delta document clears ``threshold``.
    ``idx_bands``/``idx_sh`` substitute caller-held index frames for
    the artifact read (e.g. a filtered slice of the signature store —
    the decontamination shape, where both sides come from one store).

    The corpus side is touched ONLY through the stored artifacts: band
    rows join against the (small, broadcast) probe bands, and the
    re-score reads stored shingles for matched ids — zero corpus
    re-shingling across invocations, which is what makes per-ingest
    dedup affordable at 100 TB (work ~ delta size + matches).

    The DELTA side's signatures can come either from ``delta`` raw
    text (shingled + minhashed here — the arrival-time shape) or
    PRE-STORED via ``delta_sh``/``delta_bands`` in stored-segment
    column shape ((id, shingles, n_sh) / (id, band_idx, band_key)) —
    the signature-store shape, where the ingest job computed and
    persisted signatures once on arrival and every later probe reads
    instead of recomputing (signatures are pure per-row functions of
    the text, so both routes produce identical rows)."""
    if delta_sh is not None and delta_bands is not None:
        # stored-segment shape: already packed (sh_hash LONG arrays +
        # LONG band keys) at publication time — read, never recompute
        dsh = delta_sh.select(
            F.col(id_col).alias("_nid"), F.col("sh_hash").alias("_sa")
        )
        dbands = delta_bands.select(
            F.col(id_col).alias("_nid"), "band_idx", "band_key"
        )
    else:
        raw = delta.select(
            F.col(id_col).alias("_nid"),
            T.char_shingles_col(shingle, text_col).alias("_raw"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        dsig = minhash_signature(raw, "_nid", "_raw", n_hashes, n_bands)
        dbands = pack_band_keys(band_table(dsig, "_nid", n_bands))
        dsh = raw.select(
            "_nid", F.transform("_raw", lambda s: F.xxhash64(s)).alias("_sa")
        )
    return _probe_with_signatures(
        spark, index_path, dsh, dbands, id_col, threshold,
        idx_bands=idx_bands, idx_sh=idx_sh, delta_rows=delta_rows,
    )


def _probe_with_signatures(
    spark,
    index_path: str,
    dsh: DataFrame,
    dbands: DataFrame,
    id_col: str,
    threshold: float,
    idx_bands: DataFrame | None = None,
    idx_sh: DataFrame | None = None,
    delta_rows: int | None = None,
    src_gate: bool = False,
) -> DataFrame:
    """Probe body shared by probe_band_index and ingest_band_index:
    ``dsh`` is (_nid, _sa) where _sa is the PACKED shingle-hash LONG
    array (see write_band_index's at-rest packing), ``dbands`` the
    long-form (_nid, band_idx, band_key-LONG) signature of the batch. ``idx_bands``/
    ``idx_sh`` let an ingest loop substitute caller-held frames (base
    read once + in-memory segments) for the artifact read; tombstones
    still come from the artifact meta either way.

    ``src_gate`` (round 11, the fused multi-tag probe): ``idx_bands``
    additionally carries an integer ``_vsrc`` source tag (base = -1,
    ingest segment = its tag) and ``dbands`` carries the probe doc's
    ``_ptag``; a band match is a candidate only when ``_vsrc <
    _ptag`` — exactly the probe-sees-only-prior-state visibility the
    sequential per-tag probes enforce by building per-tag index
    views, applied as a filter so ONE pass over ONE unioned view
    serves every tag (the base artifacts are scanned once per drain
    instead of once per tag)."""
    if idx_bands is None or idx_sh is None:
        band_dirs, shingle_dirs = _index_segments(index_path)
        # per-segment reads + unionByName: passing several partitioned
        # roots to one read() call makes partition discovery guess a
        # common base path — brittle; an explicit union is the same scan
        idx_bands = _read_segments(spark, band_dirs)
        idx_sh = _read_segments(spark, shingle_dirs)
    # gate every delta-proportional broadcast hint on the caller's
    # batch-size declaration (see BROADCAST_DELTA_MAX_DOCS): oversize
    # deltas keep the identical plan shape minus the hints, letting
    # AQE/the planner pick shuffle joins instead of hitting the 8 GB
    # broadcast hard limit
    if delta_rows is not None and delta_rows > BROADCAST_DELTA_MAX_DOCS:
        hint = lambda df: df  # noqa: E731
    else:
        hint = F.broadcast
    probe_bands = dbands.select(
        F.col("_nid").alias("new_doc_id"),
        "band_idx",
        "band_key",
        *(["_ptag"] if src_gate else []),
    )
    # groupBy instead of distinct: same shuffle, but the shared-band
    # COUNT comes out free — it orders the per-probe-doc candidate cap
    joined = idx_bands.join(hint(probe_bands), ["band_idx", "band_key"])
    if src_gate:
        # visibility gate BEFORE the pair aggregate: an index row is a
        # candidate for a probe doc only when its source strictly
        # precedes the probe doc's tag (see the docstring)
        joined = joined.filter(F.col("_vsrc") < F.col("_ptag"))
    cand = (
        joined.groupBy("new_doc_id", F.col(id_col).alias("matched_doc_id"))
        .agg(F.count(F.lit(1)).alias("_shared_bands"))
    )
    # tombstoned docs must never surface from a probe: anti-join the
    # matched side against the union of delete segments (tiny id
    # lists — broadcast; zero cost when no deletes are registered).
    # BEFORE the cap: a deleted candidate must not occupy a cap slot
    # the oracle's index-minus-deleted semantics give to another.
    del_dirs = _delete_segments(index_path)
    if del_dirs:
        dels = _read_segments(spark, del_dirs).select(
            F.col(id_col).alias("matched_doc_id")
        )
        cand = cand.join(F.broadcast(dels), "matched_doc_id", "left_anti")
    # PER-PROBE-DOC CANDIDATE CAP: rescore at most PROBE_MAX_CANDIDATES
    # per probe doc, preferring candidates sharing MORE bands (ties by
    # lowest id — deterministic, mirrored bit-for-bit in the oracles).
    # capped_band_candidates bounds the full-corpus self-join's bucket
    # fan-out; this bounds the PROBE side: an adversarial batch of
    # mutual near-dups (boilerplate floods) otherwise rescored
    # O(batch x corpus-dups) pairs — now a guaranteed B per doc. A true
    # best match sharing fewer bands than B others is the (measured,
    # asserted) recall cost, same bargain as the hub-star cap.
    wcap = Window.partitionBy("new_doc_id").orderBy(
        F.desc("_shared_bands"), F.asc("matched_doc_id")
    )
    cand = (
        cand.withColumn("_crn", F.row_number().over(wcap))
        .filter(F.col("_crn") <= PROBE_MAX_CANDIDATES)
        .select("new_doc_id", "matched_doc_id")
    )
    # Rescore cost shape: candidates fan out ~tens of pairs per delta
    # doc, so the intersect over ~10^3-element shingle-hash LONG
    # arrays is the hot loop (packed at rest — integer compares, ~1.8x
    # over the string arrays they replace). Measured levers (sf0.1:
    # 6.9s -> 3.2s, under the oracle's own cost): (1) broadcast the
    # delta shingles into the pair join — the delta is small by
    # definition; (2) project the intersect SIZE into a narrow column
    # list first, so the wide arrays never reach the filter/output;
    # (3) gate with an integer comparison — for the 0.5 operating
    # point jac >= 0.5 <=> 2*|A∩B| >= |A|+|B|-|A∩B|, EXACTLY
    # (small-int doubles are exact), so the expensive intersect is
    # evaluated once per candidate instead of once per reference to
    # the division expression; survivors (few) recompute the division
    # for the output value. (4, round 8) FUSED single-pass shape: the
    # NARROW capped candidate table is broadcast straight into an
    # inner join against the stored shingles (the BHJ is the filter
    # the old hit_sh semi-join provided), then the (broadcast) delta
    # shingles attach per-pair — the former persist + eager-count job
    # wave and the separate semi-join pass collapse into the main
    # job (the broadcast subplan computes cand exactly once), so a
    # probe is one action: idx_bands scan -> cap -> broadcast ->
    # idx_sh scan + 2xBHJ + gate. Both broadcasts stay at their
    # natural sizes: cand is (id, id) pairs, dsh is one array per
    # DELTA DOC — never join them before broadcasting, a per-PAIR
    # array replication inflates the exchange by the candidate cap
    # (measured 2x regression on the artifact-read probes).
    # size-ratio pre-gate BEFORE the intersect: jac <= min(|A|,|B|) /
    # max(|A|,|B|) (intersection bounded by the smaller set, union by
    # the larger), so a pair whose set sizes differ beyond the
    # threshold ratio can never clear it — prune on the cheap size
    # columns and skip the hot array_intersect for those pairs
    # entirely. Result-identical: the bound is sound, and at the 0.5
    # operating point it is the exact integer form 2*min >= max.
    _da = F.size("_sa").cast("long")
    if threshold == 0.5:
        size_gate = F.least(_da, F.col("_nb")) * 2 >= F.greatest(
            _da, F.col("_nb")
        )
    else:
        size_gate = F.least(_da, F.col("_nb")).cast("double") >= F.lit(
            threshold
        ) * F.greatest(_da, F.col("_nb")).cast("double")
    scored = idx_sh.select(
        F.col(id_col).alias("matched_doc_id"),
        F.col("sh_hash").alias("_sb"),
        F.col("n_sh").alias("_nb"),
    ).join(hint(cand), "matched_doc_id").join(
        hint(dsh.select(F.col("_nid").alias("new_doc_id"), "_sa")),
        "new_doc_id",
    ).filter(size_gate).select(
        "new_doc_id",
        "matched_doc_id",
        F.size(F.array_intersect("_sa", "_sb")).cast("long").alias("_i"),
        F.size("_sa").cast("long").alias("_na"),
        F.col("_nb"),
    )
    den = F.col("_na") + F.col("_nb") - F.col("_i")
    if threshold == 0.5:
        gated = scored.filter(F.col("_i") * 2 >= den)
    else:
        gated = scored.filter(F.col("_i").cast("double") / den >= threshold)
    return gated.select(
        "new_doc_id",
        "matched_doc_id",
        (F.col("_i").cast("double") / den).alias("jaccard_raw"),
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_name: str = "rn",
) -> DataFrame:
    """Exact per-group top-k without a one-partition-per-group window.

    A plain ``row_number() over (partition by group)`` serializes each
    group onto one task — with few, huge groups (e.g. 5 languages over
    a 100 TB pair table) that is the classic skew ceiling. Phase 1
    takes each INPUT partition's local top-k per group (the global
    top-k is necessarily a subset of the union of local top-ks), which
    runs at full parallelism and shrinks the data to <= k * n_partitions
    rows per group; phase 2 runs the exact window on that residue.
    Result-identical to the direct window for any deterministic
    ``order_cols`` (ties must be broken by the ordering itself)."""
    local = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            rank_name,
            F.row_number().over(
                Window.partitionBy(*group_cols, "_pid").orderBy(*order_cols)
            ),
        )
        .filter(F.col(rank_name) <= k)
        .drop(rank_name, "_pid")
    )
    return (
        local.withColumn(
            rank_name,
            F.row_number().over(
                Window.partitionBy(*group_cols).orderBy(*order_cols)
            ),
        )
        .filter(F.col(rank_name) <= k)
    )


def global_rank(
    df: DataFrame,
    order_cols: list[Column],
    rank_name: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global row_number without the single-task empty-window sort.

    ``row_number() over (order by ...)`` collapses the whole table onto
    one task. Instead: range-repartition on the ordering (partition i
    holds strictly earlier rows than partition i+1), rank locally per
    partition at full parallelism, then add each partition's cumulative
    row-count offset (a per-partition count table — n_partitions rows —
    cumulated with a tiny window and joined back). Result-identical for
    any total ordering (ties must be broken by the ordering itself)."""
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint FREEZES the range partitioning: the local-rank
    # branch and the offsets branch below both re-read this plan, and
    # without materialization each branch can re-run the range exchange
    # with RE-SAMPLED (different!) boundaries — AQE coalesces the
    # exchange's input differently per query, the sampled split points
    # move, and the per-row _pid diverges between branches, silently
    # corrupting every rank (observed: ~97% of ranks wrong on a real
    # scan input). Exchange reuse is an optimization, never a
    # correctness guarantee — the checkpoint makes the boundary set a
    # single materialized fact.
    rng = (
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    local = rng.withColumn(
        "_lrn",
        F.row_number().over(Window.partitionBy("_pid").orderBy(*order_cols)),
    )
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_cnt").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("_pid", "_off")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_name, (F.col("_lrn") + F.col("_off")).cast("int"))
        .drop("_pid", "_lrn", "_off")
    )


def winnow_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    m: int = 1 << 20,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al. 2003): hash
    every k-char gram (32-bit md5 prefix), keep each w-window's minimum
    hash with rightmost tie-break, return the DISTINCT kept hashes as
    ``(id, np, fp_hash)`` where np is the doc's gram count.

    Guarantee: two documents sharing any substring of length
    >= k + w - 1 share at least one fp_hash. The argmin-rightmost is a
    single windowed MIN over the packed key hash*m + (m-1-pos) — pure
    integer arithmetic (documents must be shorter than m chars), so a
    SQL twin agrees exactly. See plans/dedup.winnow_fingerprints.

    Cost shape: the hash is decoded (floor-div — the position bits
    drop) BEFORE the distinct, so the whole selection is ONE exchange;
    distincting the packed key first and re-distincting the decoded
    hash after would pay a second exchange for the same rows."""
    return (
        _winnow_keys(df, id_col, text_col, k, w, m)
        .select(id_col, "np", F.floor(F.col("sk") / m).alias("fp_hash"))
        .distinct()
    )


def winnow_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    m: int = 1 << 20,
) -> DataFrame:
    """Winnowing selection keeping anchor POSITIONS: the distinct
    selected packed keys per document, decoded to ``(id, np, p,
    fp_hash)`` — the shape substring-span dedup needs (winnow_select
    collapses to the distinct hash set; here each selected anchor
    instance keeps where it sits). Same guarantee: any repeat of
    length >= k + w - 1 has at least one selected anchor inside it in
    BOTH copies, with the same fp_hash."""
    return (
        _winnow_keys(df, id_col, text_col, k, w, m)
        .distinct()
        .select(
            id_col,
            "np",
            (F.lit(m) - 1 - F.col("sk") % m).alias("p"),
            F.floor(F.col("sk") / m).alias("fp_hash"),
        )
    )


def _winnow_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    w: int,
    m: int,
) -> DataFrame:
    """Shared winnowing core: per-window minimum packed keys
    ``(id, np, sk)`` BEFORE any distinct — consecutive windows usually
    select the same anchor, so callers dedupe, each at its own grain
    (winnow_select on the decoded hash, winnow_positions on the full
    packed key) in a single exchange.

    The sliding-window minimum is computed IN-ARRAY per document (each
    doc's packed keys in one array column, w-wide array_min per
    position) instead of the former Window over the exploded position
    stream: a window partitioned by id had to hash-exchange and sort
    every (id, position) row — the only shuffle in the selection whose
    bytes scale with corpus CHARACTERS rather than selected anchors —
    while the per-doc array already holds the positions adjacent and
    ordered by construction. Array state is one long per gram (~8
    bytes/char), bounded by the documents-shorter-than-m contract that
    the packed key itself already imposes. Same integer arithmetic,
    row-identical output (asserted by the crafted-fixture operator
    test and the exact-hash audits)."""

    def key_at(p: F.Column) -> F.Column:
        # identical packing to the former per-row projection: 32-bit
        # md5 prefix * m + (m-1-p), all integer — p is 1-based
        return F.conv(
            F.substring(F.md5(F.col("_t").substr(p, F.lit(k))), 1, 8),
            16,
            10,
        ).cast("long") * m + (F.lit(m) - 1 - p.cast("long"))

    keys = F.transform(
        F.sequence(F.lit(1), F.length("_t") - k + 1), key_at
    )
    # let-binding via a 1-element-array transform: `ks` is a lambda
    # VARIABLE, so the key array is computed once per document and the
    # w references per window are lookups — a named column would be
    # collapse-inlined into every slice (HOF lambdas sit outside CSE),
    # recomputing the whole md5 chain per window position
    sks = F.element_at(
        F.transform(
            F.array(keys),
            lambda ks: F.transform(
                F.sequence(F.lit(1), F.size(ks) - w + 1),
                lambda i: F.array_min(F.slice(ks, i, F.lit(w))),
            ),
        ),
        1,
    )
    # explode_OUTER: the inferred `size(e) > 0` guard a plain explode
    # gets would inline the whole key computation into a filter and
    # evaluate it twice per row (the claims_extract trap); the length
    # gate above already guarantees >= 1 window per surviving doc, so
    # outer emits the identical row set
    return (
        df.filter(F.length(text_col) >= k + w - 1)
        .select(
            F.col(id_col),
            (F.length(text_col) - k + 1).cast("long").alias("np"),
            F.col(text_col).alias("_t"),
        )
        .select(id_col, "np", F.explode_outer(sks).alias("sk"))
    )
