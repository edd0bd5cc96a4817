"""CDC end-to-end queries (SURVEY §2B C1/C2, queries Q35/Q36).

The feed is generated deterministically FROM the events fixture
(cdc/feedgen.py), so DuckDB can recompute the expected routed output
straight from the events table — a real oracle for the whole
serialize -> parse -> explode -> normalize -> route pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from speculare_pgcdc_spark.cdc.feedgen import (
    FEED_TABLES,
    feed_messages,
    lookup_df,
)
from speculare_pgcdc_spark.cdc.pipeline import (
    normalize_hypertables,
    parse_wal2json,
    route,
    subscriptions_df,
)
from speculare_pgcdc_spark.queries import register

_BASE_CTE = """
    WITH base AS (
        SELECT event_id, user_id, event_type,
               CASE CAST(event_id % 3 AS INT)
                   WHEN 0 THEN 'insert' WHEN 1 THEN 'update'
                   ELSE 'delete' END AS kind,
               CASE WHEN event_id % 11 = 0 THEN
                        '_hyper_9_' || CAST(event_id % 7 AS VARCHAR) || '_chunk'
                    WHEN user_id % 2 = 1 THEN 'events_a'
                    ELSE 'events_b' END AS table_name
        FROM events)
"""


@register(
    "q35_cdc_pipeline",
    oracle=_BASE_CTE
    + """
    SELECT table_name, kind,
           CASE WHEN kind <> 'delete' THEN CAST(event_id AS VARCHAR) END AS id,
           CASE WHEN kind <> 'delete' THEN event_type END AS etype
    FROM base ORDER BY table_name, kind, id
    """,
    doc="C1 CDC end-to-end (R8-R11): events -> wal2json messages -> "
    "variant parse -> explode -> normalize (typed/lenient row maps) -> "
    "hypertable broadcast lookup with fall-back-to-raw-name. Deletes "
    "carry oldkeys only => null row maps => null id/etype. Oracle "
    "recomputes the expectation from the events table directly.",
    bench=True,
)
def q35(spark: SparkSession, sf: str) -> DataFrame:
    feed = feed_messages(spark, sf)
    changes = parse_wal2json(feed)
    normalized = normalize_hypertables(changes, lookup_df(spark))
    return normalized.select(
        "table_name",
        "kind",
        F.try_element_at("row_str", F.lit("event_id")).alias("id"),
        F.try_element_at("row_typed", F.lit("event_type")).alias("etype"),
    ).orderBy("table_name", "kind", "id")


@register(
    "q36_dsl_route",
    oracle=_BASE_CTE
    + """
    SELECT CAST(event_id AS VARCHAR) AS id FROM base
    WHERE table_name = 'events_a'
      AND kind IN ('insert', 'update')
      AND event_type IN ('click', 'view')
    ORDER BY id
    """,
    doc="C2 subscription DSL compile + route (R13-R16): "
    "'insert,update:events_a:event_type.in.click,view' parsed per "
    "query.rs:10-85, joined as a broadcast subscriptions frame. The "
    "oracle derives the same rows from events arithmetic (hypertable "
    "chunks of idx 1 normalize to events_a; unknown idx 9 keeps its "
    "chunk name and thus never matches).",
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    feed = feed_messages(spark, sf)
    changes = parse_wal2json(feed)
    normalized = normalize_hypertables(changes, lookup_df(spark))
    subs = subscriptions_df(
        spark,
        [(1, "insert,update:events_a:event_type.in.click,view")],
        FEED_TABLES,
    )
    routed = route(normalized, subs)
    return routed.select(
        F.try_element_at("row_str", F.lit("event_id")).alias("id")
    ).orderBy("id")


@register(
    "q81_cdc_pipeline_v2",
    oracle=_BASE_CTE
    + """
    SELECT table_name, kind,
           CASE WHEN kind <> 'delete' THEN CAST(event_id AS VARCHAR) END AS id,
           CASE WHEN kind <> 'delete' THEN event_type END AS etype
    FROM base ORDER BY table_name, kind, id
    """,
    doc="C1 over wal2json FORMAT 2 (one change per line, "
    "action/columns/identity framing — what a real PG >= 10 deployment "
    "commonly runs; the reference pins v1 via plugin defaults, "
    "replication.rs:35). Same deterministic feed mapping, same "
    "normalized schema, SAME oracle as q35 — proving the two formats "
    "converge after parse.",
)
def q81(spark: SparkSession, sf: str) -> DataFrame:
    from speculare_pgcdc_spark.cdc.feedgen import feed_messages_v2

    feed = feed_messages_v2(spark, sf)
    changes = parse_wal2json(feed, fmt="v2")
    normalized = normalize_hypertables(changes, lookup_df(spark))
    return normalized.select(
        "table_name",
        "kind",
        F.try_element_at("row_str", F.lit("event_id")).alias("id"),
        F.try_element_at("row_typed", F.lit("event_type")).alias("etype"),
    ).orderBy("table_name", "kind", "id")


@register(
    "q96_cdc_apply",
    oracle="""
    SELECT event_id, event_type,
           CASE WHEN event_id % 11 <> 0
                     AND (isnan(value) OR isinf(value)) THEN NULL
                ELSE value END AS value
    FROM events
    WHERE NOT (event_id % 11 <> 0 AND event_id % 3 = 2)
    ORDER BY event_id
    """,
    doc="CDC APPLY (the downstream consumer the reference leaves to "
    "its users): merge the parsed change feed into a base snapshot — "
    "latest change per key in WAL order via ONE max_by aggregate (no "
    "window, no join-back; its map-typed buffer plans as a "
    "SortAggregate, kept because it is total on ties and null seq and "
    "beat a hash max + join-back in an interleaved A/B), upserts "
    "replace rows, deletes (key from oldkeys/"
    "identity in the raw payload — deletes carry no columns, the §2A "
    "quirk) remove them, untouched keys pass through an anti-join "
    "(cdc/apply.py). Changes on the unknown _hyper_9 chunk stay "
    "unapplied (fall-back-to-raw-name never matches events_a/b). "
    "Oracle recomputes the end state from events arithmetic: %3 in "
    "(0,1) upserts with the JSON round-trip's non-finite-doubles->null "
    "mapping, %3=2 deletes, %11=0 untouched.",
)
def q96(spark: SparkSession, sf: str) -> DataFrame:
    from speculare_pgcdc_spark.cdc.apply import apply_changes
    from speculare_pgcdc_spark.catalog import table

    feed = feed_messages(spark, sf)
    # delete_keys=True: the apply path needs only the delete KEY, so
    # the parse emits it directly and the change_json render (to_json
    # on a variant — the most expensive expression in the parse) is
    # pruned from this plan entirely
    changes = normalize_hypertables(
        parse_wal2json(feed, delete_keys=True), lookup_df(spark)
    )
    base = table(spark, sf, "events")
    return apply_changes(
        base,
        changes,
        key_col="event_id",
        columns={
            "event_id": "bigint",
            "event_type": "string",
            "value": "double",
        },
        tables=FEED_TABLES,
    ).orderBy("event_id")


@register(
    "q97_cdc_incremental_matview",
    oracle="""
    WITH applied AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 11 <> 0
                         AND (isnan(value) OR isinf(value)) THEN NULL
                    ELSE value END AS value
        FROM events
        WHERE NOT (event_id % 11 <> 0 AND event_id % 3 = 2))
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sv
    FROM applied GROUP BY event_type ORDER BY event_type
    """,
    doc="Incremental materialized-view maintenance (IVM) over the CDC "
    "feed: a per-event_type count/sum view is REFRESHED from a change "
    "batch by re-aggregating only the touched groups (old group via "
    "key join against the pre-apply snapshot — wal2json deletes carry "
    "no columns, so subtractive +/- deltas are impossible without "
    "REPLICA IDENTITY FULL; new group from the upsert row) and "
    "carrying every other view row forward (cdc/apply.py "
    "latest_changes pinned once, then apply_latest + "
    "touched_groups_latest + refresh_aggregates; broadcast semi/anti "
    "joins, "
    "snapshot slice partition-prunable by group). The "
    "untouched-rows-are-NOT-recomputed property is pinned separately "
    "in tests/test_cdc.py with a poisoned-view probe; this query "
    "proves the refreshed view equals a full recompute of the applied "
    "state, hash-checked against the events-arithmetic oracle.",
)
def q97(spark: SparkSession, sf: str) -> DataFrame:
    from speculare_pgcdc_spark.catalog import table
    from speculare_pgcdc_spark.cdc.apply import (
        apply_latest,
        latest_changes,
        refresh_aggregates,
        touched_groups_latest,
    )

    cols = {
        "event_id": "bigint",
        "event_type": "string",
        "value": "double",
    }
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("value").alias("_sv"),
    ]
    feed = feed_messages(spark, sf)
    changes = normalize_hypertables(
        parse_wal2json(feed, delete_keys=True), lookup_df(spark)
    )
    # the streaming matview consumer's shape: ONE parse of the batch,
    # pinned at key grain, shared by the merge and the group derivation
    lat = latest_changes(
        changes, "event_id", "bigint", FEED_TABLES
    ).localCheckpoint(eager=True)
    base = table(spark, sf, "events").select(
        *[F.col(c).cast(t).alias(c) for c, t in cols.items()]
    )
    mv_old = base.groupBy("event_type").agg(*aggs)
    snapshot_new = apply_latest(
        base, lat, "event_id", cols
    ).localCheckpoint(eager=True)
    groups = touched_groups_latest(base, lat, "event_id", "event_type")
    mv_new = refresh_aggregates(
        mv_old, snapshot_new, groups, "event_type", aggs
    )
    return mv_new.select(
        "event_type", "n", F.round("_sv", 2).alias("sv")
    ).orderBy("event_type")
