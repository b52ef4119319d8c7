"""File-format scan/sink demonstrations (SURVEY §2.1 S1/S2/S3/S25:
elt/loader_clickhouse.py:284-337 load_from_file csv/json/parquet,
study_scraper/export.py:45-85 csv export).

The reference's loader reads CSV/JSON/parquet files into tables via
pandas; here the same formats go through Spark's native readers with
explicit schemas (schema inference is a correctness hazard and a
second full scan at 100 TB — always pass the schema).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.artifacts import CheckedThread
from ..sources import read_parquet, table
from .registry import register

_NATION_SCHEMA = "n_nationkey long, n_name string, n_regionkey long"


@register(
    "csv_json_roundtrip",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey,
               n_name AS n_name_json
        FROM nation
        ORDER BY n_nationkey
    """,
    tags=("source", "sink", "format"),
    doc="S1/S2/S25 format roundtrip (loader_clickhouse.py:284-337, "
    "export.py:45-85): write the nation dim as headered CSV and "
    "line-delimited JSON, read both back with EXPLICIT schemas "
    "(spark.read.csv / spark.read.json — never schema inference, "
    "which costs a second scan and type drift at scale), then "
    "broadcast-join the two reads to prove value fidelity. The "
    "roundtrip itself is the assertion: any quoting/encoding/type "
    "loss breaks the oracle hash.",
)
def csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    # the written files live only for this call: the result is read
    # back into a local checkpoint before the temp dir is removed
    with tempfile.TemporaryDirectory(prefix="spark_graft_io_") as base:
        csv_path = os.path.join(base, "csv")
        json_path = os.path.join(base, "json")
        n.coalesce(1).write.mode("overwrite").option("header", True).csv(
            csv_path
        )
        n.coalesce(1).write.mode("overwrite").json(json_path)
        c = spark.read.schema(_NATION_SCHEMA).option("header", True).csv(
            csv_path
        )
        j = spark.read.schema(_NATION_SCHEMA).json(json_path).select(
            "n_nationkey", F.col("n_name").alias("n_name_json")
        )
        return (
            c.join(F.broadcast(j), "n_nationkey")
            .select("n_nationkey", "n_name", "n_regionkey", "n_name_json")
            .orderBy("n_nationkey")
            .localCheckpoint(eager=True)
        )


# --- bucketed co-located join (zero-shuffle large-large join) -------------

_N_BUCKETS = 16


@register(
    "bucketed_join",
    oracle="""
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    tags=("join", "storage"),
    doc="Bucketed co-located join: both sides written with "
    f"bucketBy({_N_BUCKETS}, custkey) + sortBy, then joined on the "
    "bucket key — the join runs as a SortMergeJoin with ZERO shuffle "
    "exchanges (asserted in tests via the executed plan), because both "
    "scans already deliver hash(custkey)-partitioned sorted buckets. "
    "THE layout tool for the repeated large-large join at 100 TB "
    "(fact-fact reconciliation, reference elt re-read patterns): the "
    "shuffle is paid once at write time and amortized over every later "
    "join. Bucket tables land in /tmp (external path) so bench reruns "
    "overwrite them; bucket count would be sized to target-partition "
    "bytes at scale.",
)
def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = os.path.join(
        tempfile.gettempdir(), "elt4t_buckets", os.path.basename(sf_dir.rstrip("/"))
    )
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    (
        o.write.bucketBy(_N_BUCKETS, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .option("path", os.path.join(base, "orders"))
        .saveAsTable("b_orders")
    )
    (
        c.write.bucketBy(_N_BUCKETS, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .option("path", os.path.join(base, "customer"))
        .saveAsTable("b_customer")
    )
    j = bucketed_join_plan(spark)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


def bucketed_join_plan(spark: SparkSession) -> DataFrame:
    """The join stage alone (tests assert its executed plan has a
    SortMergeJoin and no Exchange). hint('merge') pins SMJ so the
    demo can't silently degrade to a broadcast join on small inputs."""
    bo = spark.table("b_orders")
    bc = spark.table("b_customer").hint("merge")
    return bo.join(bc, F.col("o_custkey") == F.col("c_custkey"))


# --- partitioned layout + partition-pruned scan ---------------------------

_PRUNE_FROM = "2024-01-20"


@register(
    "partitioned_scan_prune",
    oracle=f"""
        SELECT STRFTIME(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
               COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
        FROM events
        WHERE CAST(ts AS DATE) >= DATE '{_PRUNE_FROM}'
        GROUP BY day, event_type
        ORDER BY day, event_type
    """,
    tags=("storage", "aggregate"),
    doc="Hive-partitioned layout + partition-pruned scan: events are "
    "written once partitioned by day (the write-side half of the "
    "pattern), then the date-filtered aggregate reads ONLY the "
    "matching day directories — the test asserts the scan's "
    "PartitionFilters carry the predicate, so at 100 TB a week-long "
    "query touches a week of files regardless of table size. Day "
    "arrives as the partition column (string directory value cast "
    "back to date); the oracle is the same filter over the flat table.",
)
def partitioned_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = partitioned_events_path(sf_dir)
    ev = table(spark, sf_dir, "events")
    (
        ev.withColumn("day", F.to_date(F.col("ts").cast("timestamp")))
        .write.partitionBy("day")
        .mode("overwrite")
        .parquet(out)
    )
    part = pruned_events_scan(spark, sf_dir)
    return (
        part.groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("day", "event_type")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
            "total_value",
        )
    )


def partitioned_events_path(sf_dir: str) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        "elt4t_partitioned",
        os.path.basename(sf_dir.rstrip("/")),
        "events",
    )


def pruned_events_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filtered scan alone (tests assert PartitionFilters on it)."""
    return read_parquet(spark, partitioned_events_path(sf_dir)).filter(
        F.col("day") >= F.lit(_PRUNE_FROM).cast("date")
    )


# --- Z-order layout: multi-dimensional data skipping -----------------------

_Z_BITS = 16
_Z_FILES = 64
_Z_BOX_LO, _Z_BOX_HI = 45, 55  # box = middle 10% of each dimension


def _z_interleave_sql(x: str, y: str, spark_dialect: bool) -> str:
    """Bit-interleaved Z-value of two _Z_BITS-bit ints, as SQL for
    either engine (Spark: shiftleft/shiftright functions; DuckDB:
    <</>> operators)."""
    terms = []
    for i in range(_Z_BITS):
        if spark_dialect:
            terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
        else:
            terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _zorder_oracle() -> str:
    scale_max = (1 << _Z_BITS) - 1
    z = _z_interleave_sql("x16", "y16", spark_dialect=False)
    return f"""
        WITH base AS (
            SELECT o_orderkey, o_custkey AS ck,
                   DATEDIFF('day', DATE '1990-01-01', o_orderdate) AS dy
            FROM orders
        ),
        bounds AS (
            SELECT MIN(ck) AS c_lo, MAX(ck) AS c_hi,
                   MIN(dy) AS d_lo, MAX(dy) AS d_hi,
                   COUNT(*) AS n
            FROM base
        ),
        scaled AS (
            SELECT b.o_orderkey, b.ck, b.dy,
                   ((b.ck - t.c_lo) * {scale_max}) // (t.c_hi - t.c_lo) AS x16,
                   ((b.dy - t.d_lo) * {scale_max}) // (t.d_hi - t.d_lo) AS y16
            FROM base b CROSS JOIN bounds t
        ),
        ranked AS (
            SELECT *, {z} AS z,
                   ROW_NUMBER() OVER (ORDER BY {z}, o_orderkey) AS zr,
                   ROW_NUMBER() OVER (ORDER BY ck, o_orderkey) AS lr
            FROM scaled
        ),
        files AS (
            SELECT 'zorder' AS layout,
                   ((zr - 1) * {_Z_FILES}) // t.n AS file_id, ck, dy
            FROM ranked CROSS JOIN bounds t
            UNION ALL
            SELECT 'linear',
                   ((lr - 1) * {_Z_FILES}) // t.n AS file_id, ck, dy
            FROM ranked CROSS JOIN bounds t
        ),
        fstats AS (
            SELECT layout, file_id,
                   MIN(ck) AS fc_lo, MAX(ck) AS fc_hi,
                   MIN(dy) AS fd_lo, MAX(dy) AS fd_hi,
                   COUNT(*) AS cnt
            FROM files GROUP BY layout, file_id
        ),
        preds AS (
            SELECT 'custkey_only' AS predicate,
                   c_lo + ((c_hi - c_lo) * {_Z_BOX_LO}) // 100 AS pc_lo,
                   c_lo + ((c_hi - c_lo) * {_Z_BOX_HI}) // 100 AS pc_hi,
                   d_lo AS pd_lo, d_hi AS pd_hi
            FROM bounds
            UNION ALL
            SELECT 'date_only', c_lo, c_hi,
                   d_lo + ((d_hi - d_lo) * {_Z_BOX_LO}) // 100,
                   d_lo + ((d_hi - d_lo) * {_Z_BOX_HI}) // 100
            FROM bounds
            UNION ALL
            SELECT 'both',
                   c_lo + ((c_hi - c_lo) * {_Z_BOX_LO}) // 100,
                   c_lo + ((c_hi - c_lo) * {_Z_BOX_HI}) // 100,
                   d_lo + ((d_hi - d_lo) * {_Z_BOX_LO}) // 100,
                   d_lo + ((d_hi - d_lo) * {_Z_BOX_HI}) // 100
            FROM bounds
        ),
        scans AS (
            SELECT f.layout, p.predicate,
                   CAST(COUNT(*) AS BIGINT) AS n_files_scanned,
                   CAST(SUM(f.cnt) AS BIGINT) AS rows_scanned
            FROM fstats f CROSS JOIN preds p
            WHERE f.fc_hi >= p.pc_lo AND f.fc_lo <= p.pc_hi
              AND f.fd_hi >= p.pd_lo AND f.fd_lo <= p.pd_hi
            GROUP BY f.layout, p.predicate
        ),
        matches AS (
            SELECT p.predicate, COUNT(*) AS rows_match
            FROM base b CROSS JOIN preds p
            WHERE b.ck BETWEEN p.pc_lo AND p.pc_hi
              AND b.dy BETWEEN p.pd_lo AND p.pd_hi
            GROUP BY p.predicate
        )
        SELECT s.layout, s.predicate, s.n_files_scanned, s.rows_scanned,
               m.rows_match
        FROM scans s JOIN matches m ON s.predicate = m.predicate
        ORDER BY s.layout, s.predicate
    """


@register(
    "zorder_layout",
    oracle=_zorder_oracle(),
    tags=("storage",),
    doc=f"Z-order (Morton-curve) layout vs linear sort, quantified: "
    f"orders laid out into {_Z_FILES} equal files either by "
    "bit-interleaved Z-value of (custkey, orderdate) or by plain "
    "custkey sort, then three box predicates (custkey-only, date-only, "
    "both) are pruned against per-file min/max ranges — exactly the "
    "row-group/file skipping a lakehouse table format does with "
    "column stats. The output shows the layout trade: linear wins "
    "narrowly on its own sort key but scans EVERY file for a date "
    "predicate, while Z-order bounds both dimensions at once. All "
    "arithmetic is integer (scaled 16-bit ranks, integer division), "
    "so the twin engines agree bit-for-bit. The Spark ranking uses "
    "the skew-free two-phase global_rank (no single-task window); at "
    "100 TB the same Z-value feeds repartitionByRange + "
    "sortWithinPartitions + write, paying one range shuffle at write "
    "time to make every later multi-dimension scan prune "
    "(public analog: Delta/Iceberg OPTIMIZE ZORDER).",
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup_ops import global_rank

    scale_max = (1 << _Z_BITS) - 1
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1990-01-01").cast("date")
        ).cast("long").alias("dy"),
    )
    b = base.agg(
        F.min("ck").alias("c_lo"),
        F.max("ck").alias("c_hi"),
        F.min("dy").alias("d_lo"),
        F.max("dy").alias("d_hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    c_lo, c_hi, d_lo, d_hi, n = b["c_lo"], b["c_hi"], b["d_lo"], b["d_hi"], b["n"]
    # persist: scaled feeds THREE consumers (two global_rank range
    # exchanges + the matches scan); without it each consumer re-reads
    # the orders parquet and re-evaluates the 16-bit interleave chain
    # (the 3x scan in round-7's plan audit). persist (not an eager
    # checkpoint) so population rides the first rank's own
    # materialization job instead of adding a job to the floor.
    scaled = (
        base.select(
            "o_orderkey",
            "ck",
            "dy",
            F.expr(
                f"((ck - {c_lo}) * {scale_max}) div ({c_hi} - {c_lo})"
            ).alias("x16"),
            F.expr(
                f"((dy - {d_lo}) * {scale_max}) div ({d_hi} - {d_lo})"
            ).alias("y16"),
        )
        .withColumn(
            "z", F.expr(_z_interleave_sql("x16", "y16", spark_dialect=True))
        )
        .persist()
    )
    # (no eager populate: the fan-out threads below race-fill the
    # persist — worst case some partitions compute twice, overlapped,
    # which measures cheaper than a serial populate job)
    # size the rank's range partitions to the data (~50k rows each,
    # capped at cluster parallelism): exact-rank output is identical
    # for any partition count, and 32 near-empty range partitions are
    # pure scheduling floor at bench scale while a 100 TB orders table
    # still fans out to full parallelism
    nparts = min(
        spark.sparkContext.defaultParallelism, max(4, n // 50_000)
    )

    # the two layouts' rank+stats DAGs are fully independent, so
    # materialize them CONCURRENTLY (the scheduler interleaves their
    # stages across idle cores — same trick a multi-tenant cluster
    # plays; halves this composite's rank wall). Each thread reduces
    # its layout to the tiny per-file stats frame (_Z_FILES rows) and
    # localCheckpoints THAT, so the downstream plan reads 12 rows.
    def _file_stats(order_cols: list, rank: str, layout: str):
        ranked = global_rank(
            scaled, order_cols, rank_name=rank, num_partitions=nparts
        ).select(
            "ck",
            "dy",
            F.expr(
                f"(CAST({rank} AS BIGINT) - 1) * {_Z_FILES} div {n}"
            ).alias("file_id"),
        )
        return (
            ranked.groupBy("file_id")
            .agg(
                F.min("ck").alias("fc_lo"),
                F.max("ck").alias("fc_hi"),
                F.min("dy").alias("fd_lo"),
                F.max("dy").alias("fd_hi"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .withColumn("layout", F.lit(layout))
            .localCheckpoint(eager=True)
        )

    def box(dim_lo: int, dim_hi: int, pct_lo: int, pct_hi: int) -> tuple:
        span = dim_hi - dim_lo
        return (dim_lo + span * pct_lo // 100, dim_lo + span * pct_hi // 100)

    cb = box(c_lo, c_hi, _Z_BOX_LO, _Z_BOX_HI)
    db = box(d_lo, d_hi, _Z_BOX_LO, _Z_BOX_HI)
    preds = spark.createDataFrame(
        [
            ("custkey_only", cb[0], cb[1], d_lo, d_hi),
            ("date_only", c_lo, c_hi, db[0], db[1]),
            ("both", cb[0], cb[1], db[0], db[1]),
        ],
        "predicate string, pc_lo long, pc_hi long, pd_lo long, pd_hi long",
    )

    def _matches():
        # exact per-predicate match counts over the persisted scaled
        # frame — the third independent DAG in the fan-out
        return (
            scaled.crossJoin(F.broadcast(preds))
            .filter(
                F.col("ck").between(F.col("pc_lo"), F.col("pc_hi"))
                & F.col("dy").between(F.col("pd_lo"), F.col("pd_hi"))
            )
            .groupBy("predicate")
            .agg(F.count(F.lit(1)).alias("rows_match"))
            .localCheckpoint(eager=True)
        )

    results: dict[str, DataFrame] = {}
    threads = [
        CheckedThread(
            target=lambda: results.__setitem__(
                "zorder",
                _file_stats(
                    [F.col("z"), F.col("o_orderkey")], "zr", "zorder"
                ),
            )
        ),
        CheckedThread(
            target=lambda: results.__setitem__(
                "linear",
                _file_stats(
                    [F.col("ck"), F.col("o_orderkey")], "lr", "linear"
                ),
            )
        ),
        CheckedThread(
            target=lambda: results.__setitem__("matches", _matches())
        ),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    fstats = results["zorder"].unionByName(results["linear"])
    matches = results["matches"]

    scans = (
        fstats.crossJoin(F.broadcast(preds))
        .filter(
            (F.col("fc_hi") >= F.col("pc_lo"))
            & (F.col("fc_lo") <= F.col("pc_hi"))
            & (F.col("fd_hi") >= F.col("pd_lo"))
            & (F.col("fd_lo") <= F.col("pd_hi"))
        )
        .groupBy("layout", "predicate")
        .agg(
            F.count(F.lit(1)).alias("n_files_scanned"),
            F.sum("cnt").alias("rows_scanned"),
        )
    )
    return (
        scans.join(matches, "predicate")
        .select(
            "layout",
            "predicate",
            "n_files_scanned",
            "rows_scanned",
            "rows_match",
        )
        .orderBy("layout", "predicate")
    )


# --- Schema-evolution read (mergeSchema) -----------------------------------


def schema_evo_path(sf_dir: str) -> str:
    return os.path.join(
        tempfile.gettempdir(),
        "elt4t_schema_evo",
        os.path.basename(sf_dir.rstrip("/")),
    )


@register(
    "schema_evolution_read",
    oracle="""
        SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                    ELSE 'LEGACY' END AS priority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS revenue
        FROM orders
        GROUP BY 1
        ORDER BY priority
    """,
    tags=("storage", "source"),
    doc="Schema-evolution source read: a v1 batch written WITHOUT the "
    "o_orderpriority column (even keys) and a v2 batch WITH it (odd "
    "keys) are read back in one mergeSchema scan; v1 rows surface the "
    "evolved column as NULL, normalized to 'LEGACY'. This is the "
    "append-only data-lake reality at 100 TB — producers add columns "
    "over years and a reader must union the generations without "
    "rewriting old files. mergeSchema reconciles footers at planning "
    "time (per-file footer reads, driver-side, bounded by file count); "
    "the scan itself stays a plain columnar read with pushdown. The "
    "oracle reproduces the generation split from the flat table.",
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = schema_evo_path(sf_dir)
    o = table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(os.path.join(out, "v1"))
    v2.write.mode("overwrite").parquet(os.path.join(out, "v2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(out, "v1"), os.path.join(out, "v2"))
    )
    return (
        merged.groupBy(
            F.coalesce("o_orderpriority", F.lit("LEGACY")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .orderBy("priority")
    )


@register(
    "orc_roundtrip",
    oracle="""
        SELECT s_nationkey,
               COUNT(*) AS n_suppliers,
               ROUND(SUM(s_acctbal), 4) AS total_bal
        FROM supplier
        WHERE s_acctbal > 0
        GROUP BY s_nationkey
        ORDER BY s_nationkey
    """,
    tags=("source", "sink", "format"),
    doc="ORC format roundtrip beside the CSV/JSON one: the supplier "
    "dim is written as ORC and read back with an explicit schema; the "
    "positive-balance filter is pushed into the ORC reader (ORC "
    "carries min/max stripe statistics like parquet, so the pushdown "
    "skips stripes at scale) and the aggregate proves value fidelity "
    "against the parquet-sourced oracle. Covers the third columnar "
    "container a lake ingest layer encounters.",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    out = os.path.join(
        tempfile.gettempdir(),
        "elt4t_orc",
        os.path.basename(sf_dir.rstrip("/")),
    )
    s.write.mode("overwrite").orc(out)
    r = spark.read.schema(
        "s_suppkey long, s_nationkey long, s_acctbal double"
    ).orc(out)
    return (
        r.filter(F.col("s_acctbal") > 0)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 4).alias("total_bal"),
        )
        .orderBy("s_nationkey")
    )


# --- small-file compaction -------------------------------------------------

_COMPACT_SMALL = 64
_COMPACT_TARGET = 4


@register(
    "compact_small_files",
    oracle=f"""
        SELECT COUNT(*) AS n_rows,
               {_COMPACT_SMALL} AS files_before,
               {_COMPACT_TARGET} AS files_after
        FROM documents
    """,
    tags=("storage", "sink"),
    doc="Small-file compaction — THE lake maintenance op at 100 TB: a "
    f"{_COMPACT_SMALL}-file fragmented landing (per-trigger micro-batch "
    "writes leave exactly this) is rewritten into "
    f"{_COMPACT_TARGET} right-sized files via one repartition pass; "
    "the query re-reads both layouts and measures the REAL file counts "
    "with input_file_name(), so the oracle row pins the compaction "
    "contract (row preservation + before/after file counts) — a "
    "coalesce that lost rows or a writer that split differently fails "
    "the hash. At scale the target count comes from "
    "bytes/target_file_size and the same pass applies "
    "sortWithinPartitions for the zorder_layout clustering.",
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = os.path.join(
        tempfile.gettempdir(),
        "elt4t_compact",
        os.path.basename(sf_dir.rstrip("/")),
    )
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    small, packed = os.path.join(base, "small"), os.path.join(base, "packed")
    d.repartition(_COMPACT_SMALL).write.mode("overwrite").parquet(small)
    sm = read_parquet(spark, small)
    sm.repartition(_COMPACT_TARGET).write.mode("overwrite").parquet(packed)
    pk = read_parquet(spark, packed)
    def n_files(df: DataFrame, name: str) -> DataFrame:
        # project the (non-deterministic) file name first, then count —
        # input_file_name() can't sit inside the aggregate itself
        return (
            df.select(F.input_file_name().alias("_f"))
            .distinct()
            .agg(F.count(F.lit(1)).alias(name))
        )

    return (
        pk.agg(F.count(F.lit(1)).alias("n_rows"))
        .crossJoin(n_files(sm, "files_before"))
        .crossJoin(n_files(pk, "files_after"))
        .select("n_rows", "files_before", "files_after")
    )


# --- session-floor probe ----------------------------------------------------


@register(
    "session_floor_probe",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(r_regionkey) AS BIGINT) AS key_sum
        FROM region
    """,
    tags=("diagnostic",),
    doc="The measurement floor, made a first-class measurement "
    "(round-7 VERDICT ask #3): the smallest expressible registered "
    "query — one scan of the 5-row region table, one aggregate, one "
    "collect (a single job, a single exchange). Its bench time is the "
    "fixed per-query session cost every other entry pays before doing "
    "any real work (job submission, stage scheduling, task launch, "
    "result fetch), recorded per round in BENCH/BENCH_DUCK so the "
    "sub-second-oracle band's ratios can be read as floor-vs-plan "
    "(see the PLANS.md floor-decomposition note). Multi-job "
    "composites pay roughly this floor per sequential job wave.",
)
def session_floor_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    return r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("r_regionkey").cast("bigint").alias("key_sum"),
    )
