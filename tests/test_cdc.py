"""CDC pipeline reference-equivalence tests (SURVEY §5.2): the filter
quirks from src/utils/specific_filter.rs and the hypertable fallback
branches from src/forwarder/mod.rs:15-41, exercised through the real
Spark pipeline on tiny literal frames."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from speculare_pgcdc_spark.cdc.pipeline import (
    normalize_hypertables,
    parse_wal2json,
    route,
    subscriptions_df,
)
from speculare_pgcdc_spark.dsl import filter_predicate, parse_ws_query

TABLES = ["test_table0", "test_table1"]


def _changes(spark, *payloads):
    df = spark.createDataFrame([(p,) for p in payloads], ["payload"])
    return parse_wal2json(df)


INSERT_STR = (
    '{"change":[{"kind":"insert","table":"test_table0",'
    '"columnnames":["id","name"],"columntypes":["integer","text"],'
    '"columnvalues":[1,"W1"]}]}'
)
INSERT_NUM_NAME = (
    '{"change":[{"kind":"insert","table":"test_table0",'
    '"columnnames":["id","name"],"columnvalues":[2,42]}]}'
)
DELETE_MSG = (
    '{"change":[{"kind":"delete","table":"test_table0",'
    '"oldkeys":{"keynames":["id"],"keyvalues":[1]}}]}'
)
TRUNCATE_MSG = '{"change":[{"kind":"truncate","table":"test_table0"}]}'
NO_CHANGE_MSG = '{"not_change":[]}'


def _matches(spark, payload, dsl):
    w = parse_ws_query(dsl, TABLES)
    df = _changes(spark, payload).withColumn("table_name", F.col("table"))
    from speculare_pgcdc_spark.dsl import subscription_predicate

    return df.filter(subscription_predicate(w)).count()


def test_eq_matches_string_cell(spark):
    assert _matches(spark, INSERT_STR, "insert:test_table0:name.eq.W1") == 1


def test_eq_rejects_wrong_value(spark):
    assert _matches(spark, INSERT_STR, "insert:test_table0:name.eq.W2") == 0


def test_eq_numeric_cell_never_matches(spark):
    # specific_filter.rs:36-42 — as_str() on a JSON number is None
    assert _matches(spark, INSERT_NUM_NAME, "insert:test_table0:name.eq.42") == 0


def test_absent_column_never_matches(spark):
    # specific_filter.rs:27-29
    assert _matches(spark, INSERT_STR, "insert:test_table0:ghost.eq.W1") == 0


def test_filtered_deletes_never_match(spark):
    # specific_filter.rs:19-25 — deletes carry oldkeys, no columnnames
    assert _matches(spark, DELETE_MSG, "delete:test_table0:name.eq.W1") == 0


def test_unfiltered_deletes_do_match(spark):
    assert _matches(spark, DELETE_MSG, "delete:test_table0") == 1


def test_in_list_matches(spark):
    assert _matches(spark, INSERT_STR, "insert:test_table0:name.in.W1,W3") == 1
    assert _matches(spark, INSERT_STR, "insert:test_table0:name.in.W2,W3") == 0


def test_kind_mask_excludes_other_kinds(spark):
    assert _matches(spark, INSERT_STR, "update,delete:test_table0") == 0
    assert _matches(spark, INSERT_STR, "*:test_table0") == 1


def test_unknown_kinds_and_malformed_messages_dropped(spark):
    df = _changes(spark, TRUNCATE_MSG, NO_CHANGE_MSG, INSERT_STR)
    assert df.count() == 1  # only the insert survives


def test_hypertable_normalization_branches(spark):
    lookup = spark.createDataFrame(
        [(1, "test_table0"), (2, "test_table1")], "idx int, table_name string"
    )
    raw = spark.createDataFrame(
        [
            ("_hyper_1_3_chunk",),   # known idx -> test_table0
            ("_hyper_2_9_chunk",),   # known idx -> test_table1
            ("_hyper_9_1_chunk",),   # unknown idx -> raw (mod.rs:31-37)
            ("_hyper_x_chunk",),     # non-numeric -> raw (no panic)
            ("plain_table",),        # not a chunk -> raw (mod.rs:39-40)
        ],
        ["table"],
    )
    out = dict(
        normalize_hypertables(raw, lookup)
        .select("table", "table_name")
        .collect()
    )
    assert out == {
        "_hyper_1_3_chunk": "test_table0",
        "_hyper_2_9_chunk": "test_table1",
        "_hyper_9_1_chunk": "_hyper_9_1_chunk",
        "_hyper_x_chunk": "_hyper_x_chunk",
        "plain_table": "plain_table",
    }


def test_route_fans_out_to_multiple_subscribers(spark):
    subs = subscriptions_df(
        spark,
        [
            (1, "insert:test_table0"),
            (2, "*:test_table0:name.eq.W1"),
            (3, "delete:test_table0"),
            (4, "insert:test_table1"),
        ],
        TABLES,
    )
    changes = _changes(spark, INSERT_STR, DELETE_MSG).withColumn(
        "table_name", F.col("table")
    )
    got = sorted(
        r.sub_id for r in route(changes, subs).select("sub_id").collect()
    )
    # insert -> subs 1 and 2; delete -> sub 3 only (filtered sub 2 cannot
    # match a delete); sub 4 wrong table
    assert got == [1, 2, 3]


def test_filter_predicate_null_semantics(spark):
    # filter column compiled alone behaves per match_filter
    w = parse_ws_query("insert:test_table0:name.eq.W1", TABLES)
    df = _changes(spark, INSERT_STR, INSERT_NUM_NAME, DELETE_MSG)
    assert df.filter(filter_predicate(w.specific)).count() == 1


def test_malformed_payload_skipped_not_fatal(spark):
    """forwarder/mod.rs:83-91: a malformed wal2json frame is logged and
    skipped; it must never fail the batch (one poison message would
    otherwise wedge the whole stream on replay — at-least-once turns a
    parse error into an infinite crash loop)."""
    from speculare_pgcdc_spark.cdc.pipeline import parse_wal2json

    df = spark.createDataFrame(
        [
            ('{"change":[{"kind":"insert","table":"t",'
             '"columnnames":["a"],"columnvalues":[1]}]}',),
            ("NOT JSON {{{",),
            ('{"no_change":true}',),
        ],
        "payload string",
    )
    rows = parse_wal2json(df).collect()
    assert len(rows) == 1 and rows[0]["kind"] == "insert"


def test_wal2json_v2_parse_matches_v1_normalized_output(spark, sf_dir):
    """The v1 (transaction + change array) and v2 (one change per line)
    feeds derived from the same events must normalize identically —
    kind, table, typed/lenient row maps."""
    from speculare_pgcdc_spark.cdc.feedgen import (
        feed_messages,
        feed_messages_v2,
    )

    def normalized(feed, fmt):
        return {
            (r.kind, r.table, r.id, r.etype, r.val)
            for r in parse_wal2json(feed, fmt=fmt)
            .select(
                "kind",
                "table",
                F.try_element_at("row_str", F.lit("event_id")).alias("id"),
                F.try_element_at(
                    "row_typed", F.lit("event_type")
                ).alias("etype"),
                F.try_element_at("row_str", F.lit("value")).alias("val"),
            )
            .collect()
        }

    v1 = normalized(feed_messages(spark, sf_dir), "v1")
    v2 = normalized(feed_messages_v2(spark, sf_dir), "v2")
    assert v1 and v1 == v2


def test_wal2json_v2_drops_transaction_control_frames(spark):
    """B/C (begin/commit) and M/T (message/truncate) v2 frames must be
    filtered exactly like v1's non-insert/update/delete kinds."""
    lines = [
        '{"action":"B"}',
        '{"action":"I","schema":"public","table":"t",'
        '"columns":[{"name":"id","type":"integer","value":1}]}',
        '{"action":"M","prefix":"x","content":"y"}',
        '{"action":"D","schema":"public","table":"t",'
        '"identity":[{"name":"id","type":"integer","value":1}]}',
        '{"action":"T","schema":"public","table":"t"}',
        '{"action":"C"}',
        "not json at all",
    ]
    df = spark.createDataFrame([(ln,) for ln in lines], "payload string")
    rows = parse_wal2json(df, fmt="v2").select("kind", "table").collect()
    assert sorted((r.kind, r.table) for r in rows) == [
        ("delete", "t"),
        ("insert", "t"),
    ]


def test_wal2json_unknown_format_rejected(spark):
    df = spark.createDataFrame([("{}",)], "payload string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown wal2json format"):
        parse_wal2json(df, fmt="v3")


@pytest.mark.parametrize("fmt", ["v1", "v2"])
def test_malformed_column_names_dropped_not_poison(spark, fmt):
    """A change whose column-name array contains a null or duplicate
    must be DROPPED (log-and-continue contract), not raise
    NULL_MAP_KEY/DUPLICATED_MAP_KEY and fail the microbatch on every
    retry (a streaming poison pill)."""
    if fmt == "v1":
        lines = [
            # malformed: null name
            '{"change":[{"kind":"insert","table":"t",'
            '"columnnames":[null],"columnvalues":[1]}]}',
            # malformed: duplicate names
            '{"change":[{"kind":"insert","table":"t",'
            '"columnnames":["a","a"],"columnvalues":[1,2]}]}',
            # fine
            '{"change":[{"kind":"insert","table":"t",'
            '"columnnames":["a"],"columnvalues":[1]}]}',
        ]
    else:
        lines = [
            '{"action":"I","table":"t",'
            '"columns":[{"type":"integer","value":1}]}',  # name absent
            '{"action":"I","table":"t","columns":['
            '{"name":"a","type":"integer","value":1},'
            '{"name":"a","type":"integer","value":2}]}',  # duplicate
            '{"action":"I","table":"t",'
            '"columns":[{"name":"a","type":"integer","value":1}]}',
        ]
    df = spark.createDataFrame([(ln,) for ln in lines], "payload string")
    rows = parse_wal2json(df, fmt=fmt).collect()
    assert len(rows) == 1
    assert rows[0]["row_str"] == {"a": "1"}


def _apply_changes_df(spark, payload_rows, base_rows):
    """Parse (lsn, payload) rows and apply onto a literal base."""
    from speculare_pgcdc_spark.cdc.apply import apply_changes

    feed = spark.createDataFrame(payload_rows, "lsn bigint, payload string")
    changes = parse_wal2json(feed, seq_col="lsn").withColumn(
        "table_name", F.col("table")
    )
    base = spark.createDataFrame(base_rows, "id bigint, name string")
    return apply_changes(
        base,
        changes,
        key_col="id",
        columns={"id": "bigint", "name": "string"},
    )


def _msg(kind, id_, name=None):
    if kind == "delete":
        return (
            '{"change":[{"kind":"delete","table":"t",'
            '"oldkeys":{"keynames":["id"],"keyvalues":[%d]}}]}' % id_
        )
    return (
        '{"change":[{"kind":"%s","table":"t",'
        '"columnnames":["id","name"],"columnvalues":[%d,"%s"]}]}'
        % (kind, id_, name)
    )


def test_apply_changes_upsert_delete_passthrough(spark):
    """One change per key: insert adds, update replaces, delete removes
    (key via oldkeys — deletes carry no columns), untouched keys pass
    through unchanged."""
    got = _apply_changes_df(
        spark,
        [
            (10, _msg("insert", 4, "new")),
            (11, _msg("update", 1, "one-v2")),
            (12, _msg("delete", 2)),
        ],
        [(1, "one"), (2, "two"), (3, "three")],
    )
    rows = {r["id"]: r["name"] for r in got.collect()}
    assert rows == {1: "one-v2", 3: "three", 4: "new"}


def test_apply_changes_latest_in_wal_order_wins(spark):
    """Multiple changes on one key collapse to the LATEST by
    (seq, chg_idx) — including delete-then-reinsert and
    update-then-delete, in either arrival order."""
    got = _apply_changes_df(
        spark,
        [
            # key 1: update @5 then delete @9 -> gone
            (9, _msg("delete", 1)),
            (5, _msg("update", 1, "stale")),
            # key 2: delete @5 then reinsert @8 -> back with new value
            (8, _msg("insert", 2, "reborn")),
            (5, _msg("delete", 2)),
            # key 3: two updates, higher lsn wins
            (6, _msg("update", 3, "v6")),
            (7, _msg("update", 3, "v7")),
        ],
        [(1, "one"), (2, "two"), (3, "three")],
    )
    rows = {r["id"]: r["name"] for r in got.collect()}
    assert rows == {2: "reborn", 3: "v7"}


def test_apply_changes_chg_idx_breaks_seq_ties(spark):
    """Changes within one transaction message share a seq; the
    posexplode index must order them (later change in the array wins)."""
    msg = (
        '{"change":['
        '{"kind":"insert","table":"t","columnnames":["id","name"],'
        '"columnvalues":[1,"first"]},'
        '{"kind":"update","table":"t","columnnames":["id","name"],'
        '"columnvalues":[1,"second"]}]}'
    )
    got = _apply_changes_df(spark, [(4, msg)], [])
    rows = {r["id"]: r["name"] for r in got.collect()}
    assert rows == {1: "second"}


def test_apply_changes_table_scoped(spark):
    """tables=... restricts application; other tables' changes (and the
    unknown-chunk fallback names) leave the base untouched."""
    from speculare_pgcdc_spark.cdc.apply import apply_changes

    feed = spark.createDataFrame(
        [
            (1, _msg("delete", 1).replace('"t"', '"t_other"')),
            (2, _msg("update", 2, "hit").replace('"t"', '"t_in"')),
        ],
        "lsn bigint, payload string",
    )
    changes = parse_wal2json(feed, seq_col="lsn").withColumn(
        "table_name", F.col("table")
    )
    base = spark.createDataFrame(
        [(1, "keep"), (2, "old")], "id bigint, name string"
    )
    got = apply_changes(
        base,
        changes,
        key_col="id",
        columns={"id": "bigint", "name": "string"},
        tables=["t_in"],
    )
    rows = {r["id"]: r["name"] for r in got.collect()}
    assert rows == {1: "keep", 2: "hit"}


def test_apply_changes_v2_identity_delete_key(spark):
    """wal2json v2 deletes carry identity instead of oldkeys; the key
    extraction must handle both framings."""
    from speculare_pgcdc_spark.cdc.apply import apply_changes

    feed = spark.createDataFrame(
        [
            (
                1,
                '{"action":"D","table":"t","identity":['
                '{"name":"id","type":"bigint","value":1}]}',
            )
        ],
        "lsn bigint, payload string",
    )
    changes = parse_wal2json(feed, seq_col="lsn", fmt="v2").withColumn(
        "table_name", F.col("table")
    )
    base = spark.createDataFrame(
        [(1, "gone"), (2, "kept")], "id bigint, name string"
    )
    got = apply_changes(
        base, changes, key_col="id",
        columns={"id": "bigint", "name": "string"},
    )
    assert {r["id"]: r["name"] for r in got.collect()} == {2: "kept"}


def test_refresh_aggregates_carries_untouched_groups_forward(spark):
    """IVM contract: groups outside the touched set must NOT be
    recomputed — pinned by poisoning their matview rows with values a
    recompute would 'fix'. Touched groups are corrected; a group whose
    last row was deleted disappears."""
    from speculare_pgcdc_spark.cdc.apply import (
        apply_latest,
        latest_changes,
        refresh_aggregates,
        touched_groups_latest,
    )

    cols = {"id": "bigint", "grp": "string", "v": "double"}
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").alias("sv"),
    ]
    base = spark.createDataFrame(
        [
            (1, "a", 1.0),
            (2, "a", 2.0),
            (3, "b", 10.0),
            (4, "c", 100.0),  # c: single row, will be deleted
            (5, "d", 7.0),    # d: untouched
        ],
        "id bigint, grp string, v double",
    )
    # update id=1 (a: 1.0 -> 5.0), MOVE id=3 from b to a, delete id=4
    feed = spark.createDataFrame(
        [
            (
                1,
                '{"change":[{"kind":"update","table":"t",'
                '"columnnames":["id","grp","v"],'
                '"columnvalues":[1,"a",5.0]}]}',
            ),
            (
                2,
                '{"change":[{"kind":"update","table":"t",'
                '"columnnames":["id","grp","v"],'
                '"columnvalues":[3,"a",10.0]}]}',
            ),
            (
                3,
                '{"change":[{"kind":"delete","table":"t",'
                '"oldkeys":{"keynames":["id"],"keyvalues":[4]}}]}',
            ),
        ],
        "lsn bigint, payload string",
    )
    changes = parse_wal2json(feed, seq_col="lsn").withColumn(
        "table_name", F.col("table")
    )

    lat = latest_changes(changes, "id", "bigint")
    groups = touched_groups_latest(base, lat, "id", "grp")
    assert {r["grp"] for r in groups.collect()} == {"a", "b", "c"}

    # POISONED view: untouched d carries a wrong sum on purpose; the
    # refresh must preserve it verbatim (proof it never recomputed d)
    mv_old = spark.createDataFrame(
        [
            ("a", 2, 3.0),
            ("b", 1, 10.0),
            ("c", 1, 100.0),
            ("d", 941, -1.5),  # poison
        ],
        "grp string, n bigint, sv double",
    )
    snapshot_new = apply_latest(base, lat, "id", cols)
    mv_new = refresh_aggregates(mv_old, snapshot_new, groups, "grp", aggs)
    got = {r["grp"]: (r["n"], r["sv"]) for r in mv_new.collect()}
    assert got == {
        "a": (3, 17.0),     # 5.0 + 2.0 + 10.0 (id 3 moved in)
        "d": (941, -1.5),   # poison preserved == not recomputed
    } | ({} if "b" not in got else {"b": got["b"]})
    # b lost its only row to the move, c to the delete -> both gone
    assert "b" not in got and "c" not in got


def test_apply_changes_composite_identity_delete_key_by_name(spark):
    """Regression (round-6 review): a REPLICA IDENTITY listing the key
    column at a non-first position — (tenant_id, id) — must still
    delete by the NAMED key column, not by position [0]. Covers both
    the v1 oldkeys and v2 identity framings."""
    from speculare_pgcdc_spark.cdc.apply import apply_changes

    v1 = (
        '{"change":[{"kind":"delete","table":"t","oldkeys":'
        '{"keynames":["tenant_id","id"],"keyvalues":[7,2]}}]}'
    )
    feed = spark.createDataFrame(
        [(1, v1)], "lsn bigint, payload string"
    )
    changes = parse_wal2json(feed, seq_col="lsn").withColumn(
        "table_name", F.col("table")
    )
    base = spark.createDataFrame(
        [(2, "victim"), (7, "bystander")], "id bigint, name string"
    )
    got = apply_changes(
        base, changes, key_col="id",
        columns={"id": "bigint", "name": "string"},
    )
    # positional [0] would have deleted id=7 (the tenant!) and kept 2
    assert {r["id"]: r["name"] for r in got.collect()} == {
        7: "bystander"
    }

    v2 = (
        '{"action":"D","table":"t","identity":['
        '{"name":"tenant_id","type":"bigint","value":7},'
        '{"name":"id","type":"bigint","value":2}]}'
    )
    feed2 = spark.createDataFrame(
        [(1, v2)], "lsn bigint, payload string"
    )
    changes2 = parse_wal2json(
        feed2, seq_col="lsn", fmt="v2"
    ).withColumn("table_name", F.col("table"))
    got2 = apply_changes(
        base, changes2, key_col="id",
        columns={"id": "bigint", "name": "string"},
    )
    assert {r["id"]: r["name"] for r in got2.collect()} == {
        7: "bystander"
    }


def test_apply_changes_delete_keys_fast_path_equivalent(spark):
    """parse_wal2json(delete_keys=True) pre-extracts the REPLICA
    IDENTITY names/values from the variant; apply must produce exactly
    the fallback path's result (composite key at non-first position,
    both framings) AND the plan must no longer render change_json —
    the to_json(variant) payload render is the most expensive
    expression in the parse and the apply path never ships a payload."""
    from speculare_pgcdc_spark.cdc.apply import apply_changes

    base = spark.createDataFrame(
        [(2, "victim"), (7, "bystander")], "id bigint, name string"
    )
    v1 = (
        '{"change":[{"kind":"delete","table":"t","oldkeys":'
        '{"keynames":["tenant_id","id"],"keyvalues":[7,2]}}]}'
    )
    v2 = (
        '{"action":"D","table":"t","identity":['
        '{"name":"tenant_id","type":"bigint","value":7},'
        '{"name":"id","type":"bigint","value":2}]}'
    )
    for fmt, payload in (("v1", v1), ("v2", v2)):
        feed = spark.createDataFrame(
            [(1, payload)], "lsn bigint, payload string"
        )
        changes = parse_wal2json(
            feed, seq_col="lsn", fmt=fmt, delete_keys=True
        ).withColumn("table_name", F.col("table"))
        assert "_dk_names" in changes.columns
        out = apply_changes(
            base, changes, key_col="id",
            columns={"id": "bigint", "name": "string"},
        )
        assert {r["id"]: r["name"] for r in out.collect()} == {
            7: "bystander"
        }, fmt
        # the fast path must not keep the payload render alive
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "to_json" not in plan, fmt
        assert "change_json" not in plan, fmt


def test_parse_wal2json_parses_payload_once(spark):
    """r14 parse-once lint: the payload parse must appear exactly ONCE
    in the optimized plan for both formats. Catalyst pushes filters
    below a Project with the alias SUBSTITUTED, so the old v1 null
    guard doubled the parse and v2's pushed table/kind/valid-names
    filter held 19 parse references (~7 evaluations per row); v1 now
    has no filter below the explode (posexplode of a null change
    array already drops the row) and v2 rides a Generate barrier
    pushdown cannot cross."""
    feed = spark.createDataFrame(
        [(1, '{"change":[]}')], "lsn bigint, payload string"
    )
    for fmt in ("v1", "v2"):
        plan = (
            parse_wal2json(feed, seq_col="lsn", fmt=fmt)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
            .lower()
            .replace("_", "")
        )
        assert plan.count("parsejson") == 1, (fmt, plan)


def test_latest_changes_builds_row_map_once(spark):
    """r14 parse-once lint, apply side: the null-key guard used to be
    pushed below the keyed projection with the key expression
    substituted, re-building the full row_str map per row (once in
    the filter, once in the projection). Behind the eval_once barrier
    the optimized plan holds exactly one map build."""
    plan = (
        _latest_of(
            spark.createDataFrame(
                [(1, INSERT_STR)], "lsn bigint, payload string"
            )
        )
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("map_from_arrays") == 1, plan


def _latest_of(feed):
    from speculare_pgcdc_spark.cdc.apply import latest_changes

    changes = parse_wal2json(
        feed, seq_col="lsn", delete_keys=True
    ).withColumn("table_name", F.col("table"))
    return latest_changes(changes, "id", tables=TABLES)


def test_latest_changes_is_one_pass_without_pin_or_join(spark, tmp_path):
    """The per-key reduction is one max_by over the keyed batch: no
    join back to the change grain (it returns every tied row) and no
    change-grain pin inside latest_changes — callers pin its key-grain
    result once. The feed is read from parquet so that any
    ``Scan ExistingRDD`` in the plan can only come from a pin."""
    spark.createDataFrame(
        [(1, INSERT_STR)], "lsn bigint, payload string"
    ).write.parquet(str(tmp_path / "feed"))
    plan = (
        _latest_of(spark.read.parquet(str(tmp_path / "feed")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def _v1_change(kind, key, tag):
    k = "null" if key is None else str(key)
    if kind == "delete":
        return (
            '{"kind":"delete","table":"t",'
            f'"oldkeys":{{"keynames":["id"],"keyvalues":[{k}]}}}}'
        )
    return (
        f'{{"kind":"{kind}","table":"t","columnnames":["id","name"],'
        f'"columntypes":["integer","text"],"columnvalues":[{k},"{tag}"]}}'
    )


def _v2_message(kind, key, tag):
    k = "null" if key is None else str(key)
    idc = f'{{"name":"id","type":"integer","value":{k}}}'
    if kind == "delete":
        return (
            '{"action":"D","schema":"public","table":"t",'
            f'"identity":[{idc}]}}'
        )
    return (
        f'{{"action":"{kind[0].upper()}","schema":"public","table":"t",'
        f'"columns":[{idc},'
        f'{{"name":"name","type":"text","value":"{tag}"}}]}}'
    )


_change_st = st.tuples(
    st.sampled_from(["insert", "update", "delete"]),
    st.one_of(st.none(), st.integers(0, 3)),
)
_batch_st = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 2)),  # lsn
        st.lists(_change_st, min_size=1, max_size=3),
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(fmt=st.sampled_from(["v1", "v2"]), batch=_batch_st)
def test_latest_changes_one_row_per_key(spark, fmt, batch):
    """Contract: exactly one row per distinct non-null key, over ties
    (equal (seq, chg_idx) — small lsn range, v2's chg_idx == 0), null
    lsn (null seq sorts below every seq) and null keys (dropped).
    Where a key's max (seq, chg_idx) is unique, its row carries that
    change."""
    from speculare_pgcdc_spark.cdc.apply import latest_changes

    render = _v1_change if fmt == "v1" else _v2_message
    rows, expect = [], {}
    tag = 0
    for lsn, chs in batch:
        # v1: one message per transaction, chg_idx = array position;
        # v2: one message per change, chg_idx always 0
        msgs = (
            [list(enumerate(chs))] if fmt == "v1"
            else [[(0, c)] for c in chs]
        )
        for msg in msgs:
            parts = []
            for idx, (kind, key) in msg:
                tag += 1
                parts.append(render(kind, key, f"c{tag}"))
                if key is not None:
                    # Spark struct order: null seq sorts first
                    ordv = (lsn is not None, lsn or 0, idx)
                    expect.setdefault(key, []).append(
                        (ordv, kind, None if kind == "delete" else f"c{tag}")
                    )
            rows.append((
                lsn,
                '{"change":[' + ",".join(parts) + "]}" if fmt == "v1"
                else parts[0],
            ))
    feed = spark.createDataFrame(rows, "lsn bigint, payload string")
    changes = parse_wal2json(
        feed, seq_col="lsn", fmt=fmt, delete_keys=True
    ).withColumn("table_name", F.col("table"))
    got = latest_changes(changes, "id", "bigint").collect()

    assert sorted(r["id"] for r in got) == sorted(expect), (got, expect)
    for r in got:
        cands = expect[r["id"]]
        top = max(o for o, _, _ in cands)
        winners = [(k, n) for o, k, n in cands if o == top]
        if len(winners) == 1:
            kind, name = winners[0]
            assert r["_chg"]["kind"] == kind, (r, cands)
            if name is not None:
                assert r["_chg"]["row_str"]["name"] == name, (r, cands)


def test_ensure_feed_hot_recovers_dropped_cache(spark, sf_dir):
    """The bench CDC micro's cache guard (BASELINE.md round-8
    attribution): ensure_feed_hot is a no-op on a hot feed, rebuilds
    a dropped persist, and reports which happened — so the throughput
    metric can never silently degrade into a feed-construction
    benchmark again."""
    from speculare_pgcdc_spark.cdc.feedgen import (
        ensure_feed_hot,
        feed_messages,
    )

    feed = feed_messages(spark, sf_dir)
    assert ensure_feed_hot(spark, sf_dir) is False  # warm path: no-op

    feed.unpersist(blocking=True)
    assert not feed.is_cached
    assert ensure_feed_hot(spark, sf_dir) is True  # dropped: rebuilt
    assert feed.is_cached
    assert ensure_feed_hot(spark, sf_dir) is False


def test_write_banded_snapshot_empty_seed_requires_width(spark, tmp_path):
    """An empty seed frame has no key range to derive band_width from:
    the implicit derivation must refuse (a silently-chosen width of 1
    would explode one dir per key later), the explicit width must work
    and persist to the _band_width marker."""
    import pytest as _pytest

    from speculare_pgcdc_spark.cdc.apply import (
        read_band_width,
        write_banded_snapshot,
    )

    empty = spark.createDataFrame([], "id bigint, v string")
    with _pytest.raises(ValueError, match="band_width"):
        write_banded_snapshot(empty, str(tmp_path / "e1"), "id")
    w = write_banded_snapshot(
        empty, str(tmp_path / "e2"), "id", band_width=1000
    )
    assert w == 1000
    assert read_band_width(str(tmp_path / "e2")) == 1000


def test_banded_matview_partial_mode_args_validated(spark, tmp_path):
    """merge_cols_fn and partials_dir come together or not at all —
    half-configured partial maintenance must fail loudly at start,
    not silently fall back to the scan refresh."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from speculare_pgcdc_spark.cdc.apply import (
        start_matview_query_banded,
        write_banded_snapshot,
    )

    snap = str(tmp_path / "vsnap")
    base = spark.createDataFrame([(1, "a", 1)], "id bigint, g string, v bigint")
    write_banded_snapshot(base, snap, "id", band_width=10)
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    for kwargs in (
        {"merge_cols_fn": lambda: [F.sum("v").alias("v")]},
        {"partials_dir": str(tmp_path / "parts")},
    ):
        with _pytest.raises(ValueError, match="partial-maintenance"):
            start_matview_query_banded(
                stream, snap, str(tmp_path / "mv"),
                str(tmp_path / "ck"), "id", {"id": "bigint"},
                "g", lambda: [F.sum("v").alias("v")], **kwargs,
            )


def test_recover_bands_relative_root_cleans_stale_tmp(tmp_path, monkeypatch):
    """Round-14 advice pin: _recover_bands' stale-tmp sweep used to
    compare the JOINED path ('./state.b5.tmp') against the raw root
    prefix ('state.b'), so with a RELATIVE root it never matched and
    abandoned batch tmp roots leaked disk forever. The basename match
    must clean them for relative and absolute roots alike."""
    import os

    from speculare_pgcdc_spark.cdc.apply import _recover_bands

    monkeypatch.chdir(tmp_path)
    os.makedirs("state/band=0")
    os.makedirs("state.b5.tmp/band=1")
    # an unrelated sibling must survive the sweep
    os.makedirs("state_other.b5.tmp")
    _recover_bands("state")
    assert not os.path.exists("state.b5.tmp")
    assert os.path.exists("state_other.b5.tmp")
    assert os.path.isdir("state/band=0")

    absroot = str(tmp_path / "abs_state")
    os.makedirs(absroot)
    os.makedirs(f"{absroot}.b2.tmp")
    _recover_bands(absroot)
    assert not os.path.exists(f"{absroot}.b2.tmp")


def test_write_banded_snapshot_auto_band_count(spark, tmp_path):
    """Round-13 verdict #5: with neither n_bands nor band_width, the
    band count derives from seed size (ceil(rows / target)) and the
    chosen width round-trips through the layout's _band_width marker
    — consumers never re-supply it."""
    import os

    from speculare_pgcdc_spark.cdc.apply import (
        read_band_width,
        write_banded_snapshot,
    )

    n = 1000
    df = spark.range(n).selectExpr("id", "id * 2 AS v")
    root = str(tmp_path / "auto_bands")
    w = write_banded_snapshot(
        df, root, "id", target_rows_per_band=100
    )
    # ceil(1000/100) = 10 bands over keys 0..999 -> width 100
    assert w == read_band_width(root)
    dirs = [e for e in os.listdir(root) if e.startswith("band=")]
    assert len(dirs) == 10
    assert w == (n - 1) // 10 + 1
    # a seed smaller than the target collapses to ONE band
    root1 = str(tmp_path / "one_band")
    write_banded_snapshot(
        df.limit(50), root1, "id", target_rows_per_band=100
    )
    assert len(
        [e for e in os.listdir(root1) if e.startswith("band=")]
    ) == 1
    # explicit n_bands still pins the count
    root2 = str(tmp_path / "pinned")
    write_banded_snapshot(df, root2, "id", n_bands=4)
    assert len(
        [e for e in os.listdir(root2) if e.startswith("band=")]
    ) == 4


def test_banded_matview_refuses_non_algebraic_partials(
    spark, tmp_path
):
    """Round-13 verdict #6: a (agg, merge) pair where merging two
    halves' partials diverges from the partial of the union (here:
    per-band MAX merged by SUM — the holistic-misuse stand-in) must
    fail LOUDLY at stream start, not silently diverge from the
    view==recompute integrity check batch after batch."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from speculare_pgcdc_spark.cdc.apply import (
        seed_band_partials,
        start_matview_query_banded,
        write_banded_snapshot,
    )

    snap = str(tmp_path / "na_snap")
    base = spark.createDataFrame(
        [(i, "g", i) for i in range(1, 9)],
        "id bigint, g string, v bigint",
    ).coalesce(1)
    write_banded_snapshot(base, snap, "id", band_width=1000)
    parts = str(tmp_path / "na_parts")
    seed_band_partials(
        spark, snap, "g", lambda: [F.max("v").alias("v")], parts
    )
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
    )
    with _pytest.raises(ValueError, match="ALGEBRAIC"):
        start_matview_query_banded(
            stream, snap, str(tmp_path / "na_mv"),
            str(tmp_path / "na_ck"), "id", {"id": "bigint"}, "g",
            agg_cols_fn=lambda: [F.max("v").alias("v")],
            merge_cols_fn=lambda: [F.sum("v").alias("v")],
            partials_dir=parts,
        )
    # the algebraic twin of the same spec must pass the probe
    q = start_matview_query_banded(
        stream, snap, str(tmp_path / "ok_mv"),
        str(tmp_path / "ok_ck"), "id", {"id": "bigint"}, "g",
        agg_cols_fn=lambda: [F.max("v").alias("v")],
        merge_cols_fn=lambda: [F.max("v").alias("v")],
        partials_dir=parts,
    )
    q.stop()
