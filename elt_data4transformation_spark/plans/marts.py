"""Mart-layer composites — the reference's dbt model chain re-expressed
as one Spark pipeline each (SURVEY §3.2): raw → staging → fact →
standings, the DAWUM ingest-time broadcast denormalization (S15/J8),
and catalog table stats (A13).

These are the integration queries of SURVEY §7 Phase 1: each one
exercises several §2 operators in the exact composition the reference's
dbt DAG runs them (raw_dawum_polls → stg_dawum_polls → fact_polls →
latest_poll_standings, dbt_project/models/).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import TABLES, table
from .registry import register

# Tiny dimension tables, broadcast everywhere they're joined
# (reference embeds these lookups at ingest, study_scraper/sources/
# dawum.py:160-232; institute quality weights mirror the dbt
# generate_poll_quality_score macro, macros/political_data_macros.sql:74-97).
_INSTITUTES = [
    (0, "Forsa", 1.0),
    (1, "Emnid", 0.9),
    (2, "Allensbach", 1.1),
    (3, "Infratest", 1.05),
    (4, "INSA", 0.85),
]
_PARLIAMENTS = [(0, "Bundestag"), (1, "Landtag BY"), (2, "Landtag NW")]
_METHODS = [(0, "online"), (1, "phone")]
_PARTIES = [(0, "SPD"), (1, "CDU/CSU"), (2, "GRUENE")]


def _values_sql(rows: list[tuple], cols: str) -> str:
    vals = ", ".join(
        "(" + ", ".join(repr(v) if isinstance(v, str) else str(v) for v in r) + ")"
        for r in rows
    )
    return f"(VALUES {vals}) AS t({cols})"


_TODAY = "2024-01-31"  # fixed anchor: the events fixture ends 2024-01-30


# Poll values carry exactly 2 decimals, so ROUND(x, 1) lands on .X5
# half-boundaries constantly — and engine ROUND() implementations
# disagree there. This explicit floor-based half-away formula is the
# IDENTICAL IEEE expression in both engines, so results match bitwise.
def _round1_sql(expr: str) -> str:
    return (
        f"(CASE WHEN ({expr}) >= 0 THEN FLOOR(({expr}) * 10 + 0.5) "
        f"ELSE -FLOOR(-({expr}) * 10 + 0.5) END) / 10"
    )


def _round1_col(c: F.Column) -> F.Column:
    return (
        F.when(c >= 0, F.floor(c * 10 + 0.5)).otherwise(-F.floor(-c * 10 + 0.5))
        / 10
    )


@register(
    "latest_poll_standings",
    oracle=f"""
        WITH raw AS (
            SELECT event_type AS party,
                   'inst' || CAST(user_id % 5 AS INTEGER) AS institute,
                   CAST(ts AS DATE) AS poll_date, ts, event_id,
                   value AS poll_value,
                   100 + CAST((user_id * 7) % 2000 AS INTEGER) AS sample_size
            FROM events
            WHERE value >= 0 AND value <= 100
        ),
        flagged AS (
            SELECT *, LENGTH(party) % 2 = 0 AS is_major_party,
                   LENGTH(party) >= 5 AS is_government_capable
            FROM raw
        ),
        ordered AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY party
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM flagged
        ),
        latest AS (
            SELECT party, poll_value AS latest_poll_value,
                   poll_date AS latest_poll_date,
                   institute AS latest_poll_institute,
                   sample_size AS latest_poll_sample_size
            FROM ordered WHERE rn = 1
        ),
        previous AS (
            SELECT party, poll_value AS previous_poll_value,
                   poll_date AS previous_poll_date
            FROM ordered WHERE rn = 2
        ),
        aggs AS (
            SELECT party, is_major_party, is_government_capable,
                   ROUND(AVG(poll_value) FILTER (WHERE poll_date >=
                       DATE '{_TODAY}' - 7), 1) AS avg_7day,
                   ROUND(AVG(poll_value) FILTER (WHERE poll_date >=
                       DATE '{_TODAY}' - 30), 1) AS avg_30day,
                   ROUND(AVG(poll_value) FILTER (WHERE poll_date >=
                       DATE '{_TODAY}' - 90), 1) AS avg_90day,
                   COUNT(*) FILTER (WHERE poll_date >=
                       DATE '{_TODAY}' - 7) AS polls_7day,
                   COUNT(*) FILTER (WHERE poll_date >=
                       DATE '{_TODAY}' - 30) AS polls_30day,
                   ROUND(STDDEV_POP(poll_value) FILTER (WHERE poll_date >=
                       DATE '{_TODAY}' - 30), 1) AS volatility_30day,
                   {_round1_sql(f'''MAX(poll_value) FILTER (WHERE poll_date >=
                       DATE '{_TODAY}' - 90)''')} AS high_90day,
                   {_round1_sql(f'''MIN(poll_value) FILTER (WHERE poll_date >=
                       DATE '{_TODAY}' - 90)''')} AS low_90day
            FROM flagged GROUP BY 1, 2, 3
        ),
        joined AS (
            SELECT a.*, l.latest_poll_value, l.latest_poll_date,
                   l.latest_poll_institute, l.latest_poll_sample_size,
                   p.previous_poll_value, p.previous_poll_date
            FROM aggs a
            JOIN latest l USING (party)
            LEFT JOIN previous p USING (party)
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (ORDER BY latest_poll_value DESC,
                                      party) AS current_rank,
                   ROW_NUMBER() OVER (ORDER BY avg_30day DESC,
                                      party) AS rank_30day_avg,
                   latest_poll_value / SUM(latest_poll_value)
                       FILTER (WHERE is_major_party) OVER () * 100 AS ms
            FROM joined
        )
        SELECT party, is_major_party, is_government_capable, current_rank,
               {_round1_sql('latest_poll_value')} AS latest_poll_value,
               STRFTIME(latest_poll_date, '%Y-%m-%d') AS latest_poll_date,
               latest_poll_institute, latest_poll_sample_size,
               {_round1_sql('previous_poll_value')} AS previous_poll_value,
               STRFTIME(previous_poll_date, '%Y-%m-%d')
                   AS previous_poll_date,
               CASE WHEN previous_poll_value IS NULL THEN 'NEW'
                    WHEN latest_poll_value > previous_poll_value THEN 'UP'
                    WHEN latest_poll_value < previous_poll_value THEN 'DOWN'
                    ELSE 'STABLE' END AS trend_direction,
               {_round1_sql(
                   'latest_poll_value - COALESCE(previous_poll_value, 0)'
               )} AS trend_change_pp,
               DATE_DIFF('day', previous_poll_date, latest_poll_date)
                   AS days_since_previous,
               avg_7day, avg_30day, avg_90day, polls_7day, polls_30day,
               volatility_30day, high_90day, low_90day,
               ROUND(high_90day - low_90day, 1) AS range_90day,
               rank_30day_avg,
               current_rank - rank_30day_avg AS rank_change_vs_30day,
               ROUND(ms, 1) AS market_share_major_parties,
               CASE WHEN latest_poll_value >= 5.0 THEN 'LIKELY_IN_PARLIAMENT'
                    WHEN latest_poll_value >= 3.0 THEN 'MARGINAL'
                    ELSE 'UNLIKELY' END AS parliament_likelihood,
               CASE WHEN latest_poll_value >= 30.0 THEN 'LEADING'
                    WHEN latest_poll_value >= 20.0 THEN 'STRONG'
                    WHEN latest_poll_value >= 10.0 THEN 'MODERATE'
                    WHEN latest_poll_value >= 5.0 THEN 'WEAK'
                    ELSE 'MARGINAL' END AS strength_category,
               CASE WHEN is_government_capable AND latest_poll_value >= 15.0
                         THEN 'SENIOR_PARTNER'
                    WHEN is_government_capable AND latest_poll_value >= 5.0
                         THEN 'JUNIOR_PARTNER'
                    WHEN latest_poll_value >= 5.0 THEN 'OPPOSITION'
                    ELSE 'MARGINAL' END AS coalition_potential,
               CASE WHEN DATE_DIFF('day', latest_poll_date,
                         DATE '{_TODAY}') <= 7 THEN 'FRESH'
                    WHEN DATE_DIFF('day', latest_poll_date,
                         DATE '{_TODAY}') <= 30 THEN 'RECENT'
                    ELSE 'STALE' END AS data_freshness,
               CASE WHEN polls_30day >= 10 THEN 'HIGH_FREQUENCY'
                    WHEN polls_30day >= 5 THEN 'MEDIUM_FREQUENCY'
                    WHEN polls_30day >= 1 THEN 'LOW_FREQUENCY'
                    ELSE 'NO_RECENT_POLLS' END AS polling_frequency
        FROM ranked
        ORDER BY current_rank
    """,
    tags=("mart", "composite"),
    doc="latest_poll_standings.sql:18-95 end-to-end in one plan: argMax "
    "latest row per party (row_number over (ts, event_id) DESC — "
    "deterministic where raw argMax(poll_value, poll_date) tie-breaks "
    "arbitrarily), nth_value-2 previous row, FILTER-windowed 7/30/90-day "
    "averages + counts + volatility + high/low, dual rankings, "
    "market-share among major parties, and every CASE category (trend, "
    "parliament likelihood, strength, coalition potential, freshness, "
    "polling frequency). Plan shape: one shuffle on party for the "
    "window + one for the FILTER aggregate, then 5-row driver-side "
    "windows — at 100 TB the party partitioning is reused across both.",
)
def latest_poll_standings(spark: SparkSession, sf_dir: str) -> DataFrame:
    today = F.lit(_TODAY).cast("date")
    raw = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("party"),
        F.concat(F.lit("inst"), (F.col("user_id") % 5).cast("int").cast("string"))
        .alias("institute"),
        F.to_date("ts").alias("poll_date"),
        "ts",
        "event_id",
        F.col("value").alias("poll_value"),
        (100 + (F.col("user_id") * 7) % 2000).cast("int").alias("sample_size"),
    ).filter((F.col("poll_value") >= 0) & (F.col("poll_value") <= 100))
    flagged = raw.withColumn(
        "is_major_party", F.length("party") % 2 == 0
    ).withColumn("is_government_capable", F.length("party") >= 5)
    w_ord = Window.partitionBy("party").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ordered = flagged.withColumn("rn", F.row_number().over(w_ord))
    latest = ordered.filter(F.col("rn") == 1).select(
        "party",
        F.col("poll_value").alias("latest_poll_value"),
        F.col("poll_date").alias("latest_poll_date"),
        F.col("institute").alias("latest_poll_institute"),
        F.col("sample_size").alias("latest_poll_sample_size"),
    )
    previous = ordered.filter(F.col("rn") == 2).select(
        "party",
        F.col("poll_value").alias("previous_poll_value"),
        F.col("poll_date").alias("previous_poll_date"),
    )

    def recent(days: int) -> F.Column:
        return F.col("poll_date") >= F.date_sub(today, days)

    def favg(days: int) -> F.Column:
        return F.round(F.avg(F.when(recent(days), F.col("poll_value"))), 1)

    aggs = flagged.groupBy(
        "party", "is_major_party", "is_government_capable"
    ).agg(
        favg(7).alias("avg_7day"),
        favg(30).alias("avg_30day"),
        favg(90).alias("avg_90day"),
        F.count(F.when(recent(7), 1)).alias("polls_7day"),
        F.count(F.when(recent(30), 1)).alias("polls_30day"),
        F.round(
            F.stddev_pop(F.when(recent(30), F.col("poll_value"))), 1
        ).alias("volatility_30day"),
        _round1_col(F.max(F.when(recent(90), F.col("poll_value")))).alias(
            "high_90day"
        ),
        _round1_col(F.min(F.when(recent(90), F.col("poll_value")))).alias(
            "low_90day"
        ),
    )
    joined = aggs.join(latest, "party").join(previous, "party", "left")
    everyone = Window.partitionBy()
    ranked = (
        joined.withColumn(
            "current_rank",
            F.row_number().over(
                Window.orderBy(F.desc("latest_poll_value"), "party")
            ),
        )
        .withColumn(
            "rank_30day_avg",
            F.row_number().over(Window.orderBy(F.desc("avg_30day"), "party")),
        )
        .withColumn(
            "ms",
            F.col("latest_poll_value")
            / F.sum(
                F.when(F.col("is_major_party"), F.col("latest_poll_value"))
            ).over(everyone)
            * 100,
        )
    )
    lv, pv = F.col("latest_poll_value"), F.col("previous_poll_value")
    return (
        ranked.select(
            "party",
            "is_major_party",
            "is_government_capable",
            "current_rank",
            _round1_col(lv).alias("latest_poll_value"),
            F.date_format("latest_poll_date", "yyyy-MM-dd").alias(
                "latest_poll_date"
            ),
            "latest_poll_institute",
            "latest_poll_sample_size",
            _round1_col(pv).alias("previous_poll_value"),
            F.date_format("previous_poll_date", "yyyy-MM-dd").alias(
                "previous_poll_date"
            ),
            F.when(pv.isNull(), "NEW")
            .when(lv > pv, "UP")
            .when(lv < pv, "DOWN")
            .otherwise("STABLE")
            .alias("trend_direction"),
            _round1_col(lv - F.coalesce(pv, F.lit(0))).alias("trend_change_pp"),
            F.datediff(F.col("latest_poll_date"), F.col("previous_poll_date"))
            .alias("days_since_previous"),
            "avg_7day",
            "avg_30day",
            "avg_90day",
            "polls_7day",
            "polls_30day",
            "volatility_30day",
            "high_90day",
            "low_90day",
            F.round(F.col("high_90day") - F.col("low_90day"), 1).alias(
                "range_90day"
            ),
            "rank_30day_avg",
            (F.col("current_rank") - F.col("rank_30day_avg")).alias(
                "rank_change_vs_30day"
            ),
            F.round("ms", 1).alias("market_share_major_parties"),
            F.when(lv >= 5.0, "LIKELY_IN_PARLIAMENT")
            .when(lv >= 3.0, "MARGINAL")
            .otherwise("UNLIKELY")
            .alias("parliament_likelihood"),
            F.when(lv >= 30.0, "LEADING")
            .when(lv >= 20.0, "STRONG")
            .when(lv >= 10.0, "MODERATE")
            .when(lv >= 5.0, "WEAK")
            .otherwise("MARGINAL")
            .alias("strength_category"),
            F.when(F.col("is_government_capable") & (lv >= 15.0), "SENIOR_PARTNER")
            .when(F.col("is_government_capable") & (lv >= 5.0), "JUNIOR_PARTNER")
            .when(lv >= 5.0, "OPPOSITION")
            .otherwise("MARGINAL")
            .alias("coalition_potential"),
            F.when(F.datediff(today, F.col("latest_poll_date")) <= 7, "FRESH")
            .when(F.datediff(today, F.col("latest_poll_date")) <= 30, "RECENT")
            .otherwise("STALE")
            .alias("data_freshness"),
            F.when(F.col("polls_30day") >= 10, "HIGH_FREQUENCY")
            .when(F.col("polls_30day") >= 5, "MEDIUM_FREQUENCY")
            .when(F.col("polls_30day") >= 1, "LOW_FREQUENCY")
            .otherwise("NO_RECENT_POLLS")
            .alias("polling_frequency"),
        )
        .orderBy("current_rank")
    )


@register(
    "poll_pipeline",
    oracle=f"""
        WITH inst AS (SELECT * FROM
            {_values_sql(_INSTITUTES, 'institute_id, institute_name, w')}),
        raw AS (
            SELECT event_type AS party,
                   CAST(user_id % 5 AS INTEGER) AS institute_id,
                   CAST(ts AS DATE) AS poll_date,
                   value AS poll_value
            FROM events
        ),
        stg AS (
            SELECT r.*, i.institute_name, i.w
            FROM raw r JOIN inst i USING (institute_id)
            WHERE poll_value IS NOT NULL
              AND poll_value >= 0 AND poll_value <= 100
        ),
        daily AS (
            SELECT party, poll_date,
                   COUNT(*) AS n_polls,
                   ROUND(AVG(poll_value), 4) AS avg_value,
                   ROUND(SUM(poll_value * w) / SUM(w), 4) AS wavg_value
            FROM stg GROUP BY party, poll_date
        ),
        fact AS (
            SELECT *,
                   LAG(wavg_value, 1) OVER pw AS prev_value,
                   ROUND(AVG(wavg_value) OVER (pw ROWS BETWEEN 2 PRECEDING
                         AND CURRENT ROW), 4) AS ma3,
                   ROUND(STDDEV_POP(wavg_value) OVER (pw ROWS BETWEEN 6
                         PRECEDING AND CURRENT ROW), 4) AS vol7,
                   ROW_NUMBER() OVER (PARTITION BY party
                                      ORDER BY poll_date DESC) AS rn
            FROM daily
            WINDOW pw AS (PARTITION BY party ORDER BY poll_date)
        ),
        latest AS (SELECT * FROM fact WHERE rn = 1)
        SELECT party,
               STRFTIME(poll_date, '%Y-%m-%d') AS latest_date,
               n_polls, wavg_value, prev_value,
               CASE WHEN prev_value IS NULL THEN 'none'
                    WHEN wavg_value > prev_value THEN 'up'
                    WHEN wavg_value < prev_value THEN 'down'
                    ELSE 'flat' END AS trend,
               ma3, vol7,
               ROUND(100.0 * wavg_value / SUM(wavg_value) OVER (), 4)
                   AS share_pct,
               ROW_NUMBER() OVER (ORDER BY wavg_value DESC, party) AS rank
        FROM latest
        ORDER BY rank
    """,
    tags=("mart", "composite"),
    doc="dbt chain end-to-end in one plan (SURVEY §3.2): raw projection "
    "(raw_dawum_polls.sql:10-30) → staging broadcast-dim join + sanity "
    "gates (stg_dawum_polls.sql:96-99) → daily weighted aggregates "
    "(daily_poll_averages.sql:18-26) → fact windows: lag/trend W1, ma3 "
    "W2, rolling volatility W3, latest-rank W4 (fact_polls.sql:69-102) "
    "→ standings: share-of-total W7 + global rank W6 "
    "(latest_poll_standings.sql:87-95). One dim broadcast join, one "
    "shuffle for the daily agg, windows reuse the party partitioning; "
    "the final single-partition window runs over 5 rows only.",
)
def poll_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    inst = spark.createDataFrame(
        _INSTITUTES, "institute_id int, institute_name string, w double"
    )
    raw = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("party"),
        (F.col("user_id") % 5).cast("int").alias("institute_id"),
        F.to_date("ts").alias("poll_date"),
        F.col("value").alias("poll_value"),
    )
    stg = raw.join(F.broadcast(inst), "institute_id").filter(
        F.col("poll_value").isNotNull()
        & (F.col("poll_value") >= 0)
        & (F.col("poll_value") <= 100)
    )
    daily = stg.groupBy("party", "poll_date").agg(
        F.count(F.lit(1)).alias("n_polls"),
        F.round(F.avg("poll_value"), 4).alias("avg_value"),
        F.round(
            F.sum(F.col("poll_value") * F.col("w")) / F.sum("w"), 4
        ).alias("wavg_value"),
    )
    pw = Window.partitionBy("party").orderBy("poll_date")
    fact = daily.select(
        "party",
        "poll_date",
        "n_polls",
        "wavg_value",
        F.lag("wavg_value", 1).over(pw).alias("prev_value"),
        F.round(F.avg("wavg_value").over(pw.rowsBetween(-2, 0)), 4).alias(
            "ma3"
        ),
        F.round(
            F.stddev_pop("wavg_value").over(pw.rowsBetween(-6, 0)), 4
        ).alias("vol7"),
        F.row_number()
        .over(Window.partitionBy("party").orderBy(F.desc("poll_date")))
        .alias("rn"),
    )
    latest = fact.filter(F.col("rn") == 1)
    trend = (
        F.when(F.col("prev_value").isNull(), "none")
        .when(F.col("wavg_value") > F.col("prev_value"), "up")
        .when(F.col("wavg_value") < F.col("prev_value"), "down")
        .otherwise("flat")
    )
    everyone = Window.partitionBy()
    return (
        latest.select(
            "party",
            F.date_format("poll_date", "yyyy-MM-dd").alias("latest_date"),
            "n_polls",
            "wavg_value",
            "prev_value",
            trend.alias("trend"),
            "ma3",
            "vol7",
            F.round(
                100.0 * F.col("wavg_value") / F.sum("wavg_value").over(everyone),
                4,
            ).alias("share_pct"),
            F.row_number()
            .over(
                Window.partitionBy().orderBy(F.desc("wavg_value"), "party")
            )
            .alias("rank"),
        )
        .orderBy("rank")
    )


@register(
    "dawum_denormalize",
    oracle=f"""
        WITH inst AS (SELECT * FROM
            {_values_sql(_INSTITUTES, 'institute_id, institute_name, w')}),
        parl AS (SELECT * FROM
            {_values_sql(_PARLIAMENTS, 'parliament_id, parliament_name')}),
        meth AS (SELECT * FROM
            {_values_sql(_METHODS, 'method_id, method_name')}),
        party AS (SELECT * FROM
            {_values_sql(_PARTIES, 'party_id, party_name')}),
        surveys AS (
            SELECT o_orderkey AS survey_id,
                   CAST(o_custkey % 5 AS INTEGER) AS institute_id,
                   CAST(o_custkey % 3 AS INTEGER) AS parliament_id,
                   CAST(o_custkey % 2 AS INTEGER) AS method_id,
                   STRFTIME(o_orderdate, '%Y-%m-%d') AS survey_date
            FROM orders
        )
        SELECT s.survey_id, s.survey_date,
               i.institute_name, pl.parliament_name, m.method_name,
               p.party_name,
               ROUND(((s.survey_id * (p.party_id + 7)) % 600) / 10.0, 1)
                   AS pct
        FROM surveys s
        JOIN inst i USING (institute_id)
        JOIN parl pl USING (parliament_id)
        JOIN meth m USING (method_id)
        CROSS JOIN party p
        ORDER BY survey_id, party_name
    """,
    tags=("mart", "join"),
    doc="S15/J8 DAWUM ingest-time denormalization: each survey is "
    "broadcast-joined with institutes / parliaments / methods lookup "
    "dims, results embedded as a nested array<struct> and exploded back "
    "to one row per (survey, party) — study_scraper/sources/dawum.py:"
    "91-154, 160-232; lake payload shape migrations/0005:143-156. All "
    "four dim joins broadcast (tiny dims); the only data motion is the "
    "fact scan itself.",
)
def dawum_denormalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    inst = spark.createDataFrame(
        _INSTITUTES, "institute_id int, institute_name string, w double"
    ).drop("w")
    parl = spark.createDataFrame(
        _PARLIAMENTS, "parliament_id int, parliament_name string"
    )
    meth = spark.createDataFrame(_METHODS, "method_id int, method_name string")
    surveys = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("survey_id"),
        (F.col("o_custkey") % 5).cast("int").alias("institute_id"),
        (F.col("o_custkey") % 3).cast("int").alias("parliament_id"),
        (F.col("o_custkey") % 2).cast("int").alias("method_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("survey_date"),
    )
    # nested results payload, as the lake stores it (then exploded back,
    # as the typed lake views do — migrations/0005:196-197)
    results = F.array(
        *[
            F.struct(
                F.lit(pid).alias("party_id"),
                F.lit(pname).alias("party_name"),
                F.round(
                    ((F.col("survey_id") * (pid + 7)) % 600) / 10.0, 1
                ).alias("pct"),
            )
            for pid, pname in _PARTIES
        ]
    )
    denorm = (
        surveys.join(F.broadcast(inst), "institute_id")
        .join(F.broadcast(parl), "parliament_id")
        .join(F.broadcast(meth), "method_id")
        .withColumn("results", results)
    )
    r = F.explode("results").alias("r")
    return (
        denorm.select(
            "survey_id",
            "survey_date",
            "institute_name",
            "parliament_name",
            "method_name",
            r,
        )
        .select(
            "survey_id",
            "survey_date",
            "institute_name",
            "parliament_name",
            "method_name",
            F.col("r.party_name").alias("party_name"),
            F.col("r.pct").alias("pct"),
        )
        .orderBy("survey_id", "party_name")
    )


@register(
    "table_stats",
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, COUNT(*) AS row_count FROM {t}"
        for t in TABLES
    )
    + " ORDER BY table_name",
    tags=("mart", "catalog"),
    doc="A13 catalog table stats: per-table row counts across the whole "
    "star schema (elt/loader_clickhouse.py:351-385: system.parts row/"
    "byte stats). Parquet count(*) is metadata-only — each leg reads "
    "row-group footers, not data pages.",
)
def table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    legs = [
        table(spark, sf_dir, t).agg(
            F.count(F.lit(1)).alias("row_count")
        ).select(F.lit(t).alias("table_name"), "row_count")
        for t in TABLES
    ]
    return reduce(DataFrame.unionByName, legs).orderBy("table_name")


# --- dbt macros: party normalization / color / election-cycle phase ------

_PARTY_CANON = (
    # (raw-pattern fragment, canonical, color) — the multiIf ladder of
    # clean_party_name + get_political_party_color
    ("1-urgent", "URGENT", "#e3000f"),
    ("2-high", "HIGH", "#000000"),
    ("3-medium", "MEDIUM", "#ffed00"),
    ("4-not", "NOT_SPECIFIED", "#64a12d"),
    ("5-low", "LOW", "#0489db"),
)


@register(
    "party_normalize",
    oracle=f"""
        WITH canon AS (
            SELECT o_orderkey,
                   CASE
                     {" ".join(f"WHEN CONTAINS(LOWER(o_orderpriority), '{p}') THEN '{c}'" for p, c, _ in _PARTY_CANON)}
                     ELSE UPPER(TRIM(o_orderpriority))
                   END AS party,
                   CASE
                     {" ".join(f"WHEN CONTAINS(LOWER(o_orderpriority), '{p}') THEN '{col}'" for p, _, col in _PARTY_CANON)}
                     ELSE '#999999'
                   END AS party_color,
                   CASE
                     WHEN EXTRACT(YEAR FROM o_orderdate) % 4 = 1 THEN 'election_year'
                     WHEN EXTRACT(YEAR FROM o_orderdate) % 4 = 0 THEN 'pre_election'
                     ELSE 'mid_cycle'
                   END AS cycle_phase
            FROM orders
        )
        SELECT party, party_color, cycle_phase, COUNT(*) AS n
        FROM canon
        GROUP BY party, party_color, cycle_phase
        ORDER BY party, cycle_phase
    """,
    tags=("mart", "scalar"),
    doc="dbt macro trio in one plan: clean_party_name multiIf "
    "canonicalization ladder (macros/political_data_macros.sql:99-113), "
    "get_political_party_color mapping (:12-31), "
    "get_election_cycle_phase year arithmetic (:65-72). Chained-when "
    "codegen projections + one hash aggregate — the SQL-generating "
    "Jinja macros become plain Column-returning Python functions.",
)
def party_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    low = F.lower(F.col("o_orderpriority"))
    party_expr = None
    color_expr = None
    for pat, canon, color in _PARTY_CANON:
        cond = low.contains(pat)
        party_expr = (
            F.when(cond, canon) if party_expr is None else party_expr.when(cond, canon)
        )
        color_expr = (
            F.when(cond, color) if color_expr is None else color_expr.when(cond, color)
        )
    party_expr = party_expr.otherwise(F.upper(F.trim(F.col("o_orderpriority"))))
    color_expr = color_expr.otherwise(F.lit("#999999"))
    yr = F.year("o_orderdate")
    phase = (
        F.when(yr % 4 == 1, "election_year")
        .when(yr % 4 == 0, "pre_election")
        .otherwise("mid_cycle")
    )
    return (
        o.select(
            party_expr.alias("party"),
            color_expr.alias("party_color"),
            phase.alias("cycle_phase"),
        )
        .groupBy("party", "party_color", "cycle_phase")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("party", "cycle_phase")
    )


# --- test_poll_data_quality macro (§2.12, macros:132-161) -----------------

_DQ_TODAY = "2024-12-31"  # pinned "today" — determinism deviation, declared
_DQ_MIN_N = 100
_DQ_MAX_AGE = 360


@register(
    "poll_quality_issues",
    oracle=f"""
        WITH polls AS (
            SELECT event_id AS id,
                   CAST(ts AS DATE) AS poll_date,
                   value AS poll_value,
                   CAST((user_id * 13) % 3000 AS BIGINT) AS sample_size
            FROM events
        )
        SELECT 'SAMPLE_SIZE_TOO_LOW' AS issue_type, id,
               CAST(sample_size AS VARCHAR) AS detail,
               '{_DQ_MIN_N}' AS threshold
        FROM polls WHERE sample_size < {_DQ_MIN_N}
        UNION ALL
        SELECT 'POLL_TOO_OLD', id, CAST(poll_date AS VARCHAR),
               '{_DQ_MAX_AGE}'
        FROM polls
        WHERE DATE_DIFF('day', poll_date, DATE '{_DQ_TODAY}') > {_DQ_MAX_AGE}
        UNION ALL
        SELECT 'INVALID_PERCENTAGE', id, CAST(poll_value AS VARCHAR),
               '0-100'
        FROM polls WHERE poll_value < 0 OR poll_value > 100
        ORDER BY issue_type, id
    """,
    tags=("marts", "quality"),
    doc="test_poll_data_quality dbt macro "
    "(macros/political_data_macros.sql:132-161): three issue streams "
    "(sample too small, poll older than max_age vs a PINNED 'today' — "
    "declared determinism deviation from today(); percentage outside "
    "0-100, the stg sanity gate P8) unionByName'd into one issues "
    "relation. Each stream is a pushed-down filter over the same scan; "
    "Catalyst collapses the union into one pass.",
)
def poll_quality_issues(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    polls = e.select(
        F.col("event_id").alias("id"),
        F.col("ts").cast("date").alias("poll_date"),
        F.col("value").alias("poll_value"),
        ((F.col("user_id") * 13) % 3000).cast("long").alias("sample_size"),
    )
    low = polls.filter(F.col("sample_size") < _DQ_MIN_N).select(
        F.lit("SAMPLE_SIZE_TOO_LOW").alias("issue_type"),
        "id",
        F.col("sample_size").cast("string").alias("detail"),
        F.lit(str(_DQ_MIN_N)).alias("threshold"),
    )
    old = polls.filter(
        F.datediff(F.lit(_DQ_TODAY).cast("date"), F.col("poll_date"))
        > _DQ_MAX_AGE
    ).select(
        F.lit("POLL_TOO_OLD").alias("issue_type"),
        "id",
        F.col("poll_date").cast("string").alias("detail"),
        F.lit(str(_DQ_MAX_AGE)).alias("threshold"),
    )
    bad_pct = polls.filter(
        (F.col("poll_value") < 0) | (F.col("poll_value") > 100)
    ).select(
        F.lit("INVALID_PERCENTAGE").alias("issue_type"),
        "id",
        F.col("poll_value").cast("string").alias("detail"),
        F.lit("0-100").alias("threshold"),
    )
    return (
        low.unionByName(old)
        .unionByName(bad_pct)
        .orderBy("issue_type", "id")
    )


@register(
    "canonical_metadata",
    oracle="""
        WITH src AS (
            SELECT doc_id,
                   ['destatis', 'eurostat', 'soep'][CAST(doc_id % 3 AS INTEGER) + 1]
                       AS source,
                   LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                                  w -> REGEXP_REPLACE(w, '[^A-Za-z0-9]', '', 'g'))
                       AS w
            FROM documents WHERE doc_id % 7 = 0
        ), raw AS (
            SELECT doc_id, source,
                   TRIM(CONCAT_WS(' ', w[1], w[2], w[3])) AS title_raw,
                   TRIM(CONCAT_WS(' ', w[4], w[5], w[6], w[7])) AS desc_raw,
                   CASE source
                     WHEN 'soep' THEN '["' || w[1] || '","' || w[2] || '"]'
                     WHEN 'destatis' THEN w[1] || ';' || w[2] || ', ' || w[3]
                     ELSE w[1]
                   END AS keywords_raw,
                   CASE source
                     WHEN 'soep' THEN ['sex:' || w[3], 'age:' || w[4]]
                     ELSE CAST([] AS VARCHAR[])
                   END AS variables_raw,
                   CASE source
                     WHEN 'destatis' THEN
                       '2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-15'
                     WHEN 'eurostat' THEN ''
                     ELSE 'not-a-date'
                   END AS lu_raw
            FROM src
        ), cleaned AS (
            SELECT doc_id, source,
                   source || '-' || CAST(doc_id AS VARCHAR) AS dataset_id,
                   CASE WHEN LENGTH(title_raw) > 0 THEN title_raw
                        ELSE 'Dataset ' || CAST(doc_id AS VARCHAR) END AS title,
                   CASE WHEN LENGTH(desc_raw) > 0 THEN desc_raw
                        WHEN LENGTH(title_raw) > 0 THEN title_raw
                        ELSE 'Dataset ' || CAST(doc_id AS VARCHAR) END
                       AS description,
                   LIST_FILTER(LIST_TRANSFORM(
                       CASE WHEN LEFT(TRIM(keywords_raw), 1) = '['
                                 AND RIGHT(TRIM(keywords_raw), 1) = ']'
                                 AND JSON_VALID(TRIM(keywords_raw))
                            THEN FROM_JSON(TRIM(keywords_raw), '["VARCHAR"]')
                            ELSE STRING_SPLIT(
                                REPLACE(TRIM(keywords_raw), ';', ','), ',')
                       END, x -> TRIM(x)), x -> LENGTH(x) > 0) AS keywords,
                   LIST_FILTER(LIST_TRANSFORM(variables_raw, x -> TRIM(x)),
                               x -> LENGTH(x) > 0) AS variables,
                   TRY_CAST(lu_raw AS TIMESTAMP) AS latest_update
            FROM raw
        )
        SELECT source, dataset_id, title, description,
               COALESCE(ARRAY_TO_STRING(
                   LIST_SORT(LIST_DISTINCT(keywords)), ','), '')
                   AS keywords,
               COALESCE(ARRAY_TO_STRING(
                   LIST_SORT(LIST_DISTINCT(variables)), ','), '')
                   AS variables,
               STRFTIME(latest_update, '%Y-%m-%dT%H:%M:%S') AS latest_update,
               MD5(CONCAT('source=', source, '|dataset_id=', dataset_id,
                   '|title=', title, '|description=', description,
                   '|keywords=',
                   COALESCE(ARRAY_TO_STRING(
                       LIST_SORT(LIST_DISTINCT(keywords)), ','), ''),
                   '|variables=',
                   COALESCE(ARRAY_TO_STRING(
                       LIST_SORT(LIST_DISTINCT(variables)), ','), ''),
                   '|latest_update=',
                   COALESCE(STRFTIME(latest_update, '%Y-%m-%dT%H:%M:%S'),
                            'null'))) AS metadata_hash,
               ARRAY_TO_STRING(LIST_FILTER(
                   [title, description,
                    COALESCE(ARRAY_TO_STRING(keywords, ' '), ''),
                    COALESCE(ARRAY_TO_STRING(variables, ' '), '')],
                   x -> LENGTH(x) > 0), ' ') AS text_blob
        FROM cleaned
        ORDER BY dataset_id
    """,
    tags=("mart", "semistructured", "composite"),
    doc="Canonical metadata ADAPTER — the reference's per-source "
    "normalization IR made an explicit operator (elt/adapters/"
    "metadata.py:19-60 CanonicalDatasetMetadata + :63-87 "
    "_clean_list_values, pinned by tests/unit/test_soep_adapter.py "
    "and test_metadata_adapters.py): heterogeneous catalog rows "
    "(destatis / eurostat / soep shapes synthesized per doc) are "
    "normalized to one struct — title with dataset-id fallback, "
    "description falling back to title, keyword lists accepted as "
    "EITHER a JSON array string OR a comma/semicolon-delimited "
    "string (the adapter's dual-shape rule: parse when it looks like "
    "JSON and validates, else split on ;/, — then trim and drop "
    "empties), variables as dim:category expansions, best-effort "
    "ISO timestamp (NULL when unparseable, the adapter's logged "
    "fallback), an md5 metadata_hash over the canonical "
    "sorted-deduped payload (compute_hash, :35-49), and the "
    "text_blob concatenation used for keyword/embedding matching "
    "(:51-60). Pure column expressions — at 100 TB this is a "
    "projection fused into the catalog scan.",
)
def canonical_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    w = F.transform(
        F.split("text", " "),
        lambda x: F.regexp_replace(x, "[^A-Za-z0-9]", ""),
    )
    src = d.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("destatis"), F.lit("eurostat"), F.lit("soep")),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("source"),
        w.alias("w"),
    )
    # try_element_at: a doc with fewer tokens than the source shape
    # assumes must yield NULL (duckdb list-index semantics), not an
    # ANSI out-of-bounds error
    el = lambda i: F.try_element_at("w", F.lit(i))  # noqa: E731
    raw = src.select(
        "doc_id",
        "source",
        F.trim(F.concat_ws(" ", el(1), el(2), el(3))).alias("title_raw"),
        F.trim(F.concat_ws(" ", el(4), el(5), el(6), el(7))).alias(
            "desc_raw"
        ),
        F.when(
            F.col("source") == "soep",
            F.concat(
                F.lit('["'), el(1), F.lit('","'), el(2), F.lit('"]')
            ),
        )
        .when(
            F.col("source") == "destatis",
            F.concat(el(1), F.lit(";"), el(2), F.lit(", "), el(3)),
        )
        .otherwise(el(1))
        .alias("keywords_raw"),
        F.when(
            F.col("source") == "soep",
            F.array(
                F.concat(F.lit("sex:"), el(3)),
                F.concat(F.lit("age:"), el(4)),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("variables_raw"),
        F.when(
            F.col("source") == "destatis",
            F.concat(
                F.lit("2024-0"),
                (F.col("doc_id") % 9 + 1).cast("string"),
                F.lit("-15"),
            ),
        )
        .when(F.col("source") == "eurostat", F.lit(""))
        .otherwise(F.lit("not-a-date"))
        .alias("lu_raw"),
    )
    # _clean_list_values: JSON-array string OR ;/,-delimited string ->
    # trimmed non-empty list (reference elt/adapters/metadata.py:63-87)
    kt = F.trim("keywords_raw")
    parsed = F.from_json(kt, "array<string>")
    kw_list = F.filter(
        F.transform(
            F.when(
                kt.startswith("[") & kt.endswith("]") & parsed.isNotNull(),
                parsed,
            ).otherwise(F.split(F.replace(kt, F.lit(";"), F.lit(",")), ",")),
            lambda x: F.trim(x),
        ),
        lambda x: F.length(x) > 0,
    )
    var_list = F.filter(
        F.transform("variables_raw", lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    fallback = F.concat(F.lit("Dataset "), F.col("doc_id").cast("string"))
    cleaned = raw.select(
        "doc_id",
        "source",
        F.concat(
            "source", F.lit("-"), F.col("doc_id").cast("string")
        ).alias("dataset_id"),
        F.when(F.length("title_raw") > 0, F.col("title_raw"))
        .otherwise(fallback)
        .alias("title"),
        F.when(F.length("desc_raw") > 0, F.col("desc_raw"))
        .when(F.length("title_raw") > 0, F.col("title_raw"))
        .otherwise(fallback)
        .alias("description"),
        kw_list.alias("keywords"),
        var_list.alias("variables"),
        F.expr("try_cast(lu_raw as timestamp)").alias("latest_update"),
    )
    # coalesce('') mirrors the oracle: a doc with too few tokens for
    # its source's keyword shape yields NULL lists, and bare NULL would
    # null-propagate through the metadata_hash concat
    kws = F.coalesce(
        F.array_join(F.array_sort(F.array_distinct("keywords")), ","),
        F.lit(""),
    )
    vrs = F.coalesce(
        F.array_join(F.array_sort(F.array_distinct("variables")), ","),
        F.lit(""),
    )
    iso = F.date_format("latest_update", "yyyy-MM-dd'T'HH:mm:ss")
    return cleaned.select(
        "source",
        "dataset_id",
        "title",
        "description",
        kws.alias("keywords"),
        vrs.alias("variables"),
        iso.alias("latest_update"),
        F.md5(
            F.concat(
                F.lit("source="), "source",
                F.lit("|dataset_id="), "dataset_id",
                F.lit("|title="), "title",
                F.lit("|description="), "description",
                F.lit("|keywords="), kws,
                F.lit("|variables="), vrs,
                F.lit("|latest_update="), F.coalesce(iso, F.lit("null")),
            )
        ).alias("metadata_hash"),
        F.array_join(
            F.filter(
                F.array(
                    F.col("title"),
                    F.col("description"),
                    F.array_join("keywords", " "),
                    F.array_join("variables", " "),
                ),
                lambda x: F.length(x) > 0,
            ),
            " ",
        ).alias("text_blob"),
    ).orderBy("dataset_id")


@register(
    "coverage_funnel",
    oracle="""
        WITH unified AS (
            SELECT o_orderpriority AS source, o_custkey AS dataset_id,
                   o_orderstatus AS status
            FROM orders
        ),
        source_totals AS (
            SELECT source, COUNT(DISTINCT dataset_id) AS total_datasets
            FROM unified GROUP BY source
        ),
        handled AS (
            SELECT DISTINCT source, dataset_id, 'topic' AS status
            FROM unified WHERE status = 'F'
            UNION ALL
            SELECT DISTINCT source, dataset_id, 'review' AS status
            FROM unified WHERE status = 'O'
            UNION ALL
            SELECT DISTINCT source, dataset_id, 'excluded' AS status
            FROM unified WHERE status = 'P'
        ),
        status_counts AS (
            SELECT source,
                   COUNT(DISTINCT dataset_id)
                       FILTER (WHERE status = 'topic') AS labeled_datasets,
                   COUNT(DISTINCT dataset_id)
                       FILTER (WHERE status = 'review') AS review_datasets,
                   COUNT(DISTINCT dataset_id)
                       FILTER (WHERE status = 'excluded')
                       AS excluded_datasets,
                   COUNT(DISTINCT dataset_id) AS handled_datasets
            FROM handled GROUP BY source
        )
        SELECT t.source, t.total_datasets,
               COALESCE(s.labeled_datasets, 0) AS labeled_datasets,
               COALESCE(s.review_datasets, 0) AS review_datasets,
               COALESCE(s.excluded_datasets, 0) AS excluded_datasets,
               t.total_datasets - COALESCE(s.handled_datasets, 0)
                   AS unlabeled_datasets
        FROM source_totals t
        LEFT JOIN status_counts s ON t.source = s.source
        ORDER BY t.source
    """,
    tags=("mart", "aggregate", "setop", "composite"),
    doc="Per-source classification coverage funnel — the ops "
    "dashboard's headline table as one composite (reference "
    "streamlit_app/pages/3_Topic_Browser.py:75-120): per-source "
    "dataset totals, three DISTINCT status streams (assigned / "
    "review / excluded) UNION'd, conditional counts per status "
    "(ClickHouse uniqExactIf -> count(when) over the already-distinct "
    "streams), and a "
    "LEFT JOIN back onto totals with ifNull-zero defaults and the "
    "residual unlabeled = total - handled (handled counts each "
    "dataset ONCE even when it sits in several status streams — the "
    "uniqExact-over-union semantics, not a sum of the three "
    "columns). Two aggregate shuffles on the same source/dataset key "
    "family + one broadcast-size join of per-source rows; at 100 TB "
    "the status streams are dashboard-bounded, the unified scan "
    "dominates and combines map-side.",
)
def coverage_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("source"),
        F.col("o_custkey").alias("dataset_id"),
        F.col("o_orderstatus").alias("raw_status"),
    )
    totals = o.groupBy("source").agg(
        F.countDistinct("dataset_id").alias("total_datasets")
    )

    def stream(raw: str, label: str) -> DataFrame:
        return (
            o.filter(F.col("raw_status") == raw)
            .select("source", "dataset_id")
            .distinct()
            .withColumn("status", F.lit(label))
        )

    handled = (
        stream("F", "topic")
        .unionByName(stream("O", "review"))
        .unionByName(stream("P", "excluded"))
    )
    # each stream is already distinct per (source, dataset_id), so a
    # plain conditional count is its uniqExactIf; one DISTINCT
    # aggregate, not four, also keeps Spark's distinct-aggregate
    # rewrite out: it orders its Expand projections by expression-id
    # hash, so each run would generate new source text and recompile
    counts = handled.groupBy("source").agg(
        F.count(
            F.when(F.col("status") == "topic", F.col("dataset_id"))
        ).alias("labeled_datasets"),
        F.count(
            F.when(F.col("status") == "review", F.col("dataset_id"))
        ).alias("review_datasets"),
        F.count(
            F.when(F.col("status") == "excluded", F.col("dataset_id"))
        ).alias("excluded_datasets"),
        F.countDistinct("dataset_id").alias("handled_datasets"),
    )
    return (
        totals.join(counts, "source", "left")
        .select(
            "source",
            "total_datasets",
            F.coalesce("labeled_datasets", F.lit(0)).alias(
                "labeled_datasets"
            ),
            F.coalesce("review_datasets", F.lit(0)).alias(
                "review_datasets"
            ),
            F.coalesce("excluded_datasets", F.lit(0)).alias(
                "excluded_datasets"
            ),
            (
                F.col("total_datasets")
                - F.coalesce("handled_datasets", F.lit(0))
            ).alias("unlabeled_datasets"),
        )
        .orderBy("source")
    )
