"""Stats aggregation (operator O11) — the reference's /stats endpoint,
generalized to data-level aggregation.

Reference: /root/reference/evtstrd/stats.py:28-50 aggregates only
*operational* metadata (start time, total connections, per-connection
projection).  We reproduce that shape for a listener registry, and add
the data-level stats a Spark engine can answer over the event stream
itself (counts, distinct users, time bounds per subsystem) — a single
shuffle with map-side combine; ``approx_count_distinct`` is the
100 TB-friendly variant of the exact distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from eventstreamd_spark.operators.routing import Listener


def listener_connections(spark: SparkSession, listeners: list[Listener]) -> DataFrame:
    """The /stats "connections" projection (stats.py:35-44) as a table."""
    rows = [
        (li.name, li.subsystem, list(li.filters))
        for li in listeners
    ]
    return spark.createDataFrame(
        rows, "listener string, subsystem string, filters array<string>"
    )


def subsystem_stats(df: DataFrame, subsystem_col: str = "event_type") -> DataFrame:
    """Per-subsystem operational aggregate over the event stream."""
    return df.groupBy(F.col(subsystem_col).alias("subsystem")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("max_ts"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


def server_stats(df: DataFrame) -> DataFrame:
    """Whole-stream totals (the "start-time"/"total-connections" analog)."""
    return df.agg(
        F.count("*").alias("total_events"),
        F.countDistinct(F.col("event_type")).alias("n_subsystems"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
    )


def quality_observation(df: DataFrame, cols: list[str]):
    """One-pass batch data-quality counters: total rows + per-column
    null counts computed WHILE the main job runs (pyspark Observation,
    the batch API over ``DataFrame.observe``).

    At 100 TB a separate `df.filter(isnull).count()` audit is a second
    full scan; an Observation rides the action the pipeline was already
    doing for free.  Returns (observed_df, observation) — run any
    action on observed_df, then read ``observation.get``.
    """
    from pyspark.sql import Observation

    obs = Observation("quality")
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.isnull(c).cast("long")).alias(f"n_null_{c}") for c in cols
    ]
    return df.observe(obs, *metrics), obs


def weighted_median_quantity(lineitem: DataFrame) -> DataFrame:
    """Custom UDAF surface: weighted median of l_quantity (weight =
    round(l_extendedprice), BIGINT) per return flag, as an Arrow-batched
    ``pandas_udf`` GROUPED_AGG aggregate.

    This is the one UDF flavor the rest of the repo doesn't use (scalar
    Columns and mapInPandas cover everything else); the aggregate here
    is deliberately NOT SQL-impossible — its DuckDB twin states the same
    thing with a RANGE-framed cumulative window — so the custom-agg
    plumbing itself is what gets oracle-checked.  Integer weights and a
    2*cum >= tot threshold keep every comparison exact: no float
    accumulation order can flip the verdict in either engine.

    Scale: GROUPED_AGG has NO partial aggregation — the whole group
    crosses the shuffle (fine for bounded groups like the 3 return
    flags x bounded quantities; wrong for per-key TB groups).  At scale
    prefer the windowed-SQL formulation, which partial-sorts
    distributedly; this operator exists to prove the API surface.
    """
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module's deferred annotations keep
    # type-hint inference from seeing the GROUPED_AGG signature
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def _wmedian(v, w):
        df = (
            pd.DataFrame({"v": v.astype(float), "w": w.astype("int64")})
            .sort_values("v", kind="mergesort")
            .reset_index(drop=True)
        )
        cum = df["w"].cumsum()
        tot = int(df["w"].sum())
        hit = df.loc[2 * cum >= tot, "v"]
        return float(hit.iloc[0])

    return (
        lineitem.select(
            "l_returnflag",
            F.col("l_quantity").alias("v"),
            F.round("l_extendedprice").cast("long").alias("w"),
        )
        .groupBy("l_returnflag")
        .agg(_wmedian("v", "w").alias("weighted_median_qty"))
    )


def sql_weighted_median_quantity(lineitem: str = "lineitem") -> str:
    return (
        "WITH w AS ("
        "  SELECT l_returnflag, l_quantity AS v, "
        f"    CAST(round(l_extendedprice) AS BIGINT) AS wt FROM {lineitem}"
        "), c AS ("
        "  SELECT l_returnflag, v, "
        "    sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum, "
        "    sum(wt) OVER (PARTITION BY l_returnflag) AS tot "
        "  FROM w) "
        "SELECT l_returnflag, min(v) AS weighted_median_qty "
        "FROM c WHERE 2 * cum >= tot GROUP BY l_returnflag"
    )
