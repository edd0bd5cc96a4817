"""Apply a parsed change feed to a base snapshot — the canonical
DOWNSTREAM consumer of the reference's change stream (speculare-pgcdc
stops at fan-out; every real deployment's next step is maintaining a
queryable copy: upsert inserts/updates, drop deletes).

Input is the normalized CHANGE_COLUMNS frame (cdc.pipeline). The key of
an insert/update comes from its row map; a delete carries no columns
(wal2json v1 ``oldkeys`` / v2 ``identity`` — the §2A quirk), so its key
is extracted from the raw payload (``change_json``), which both parse
branches preserve verbatim.

Scale shape: latest-change-per-key is ONE aggregation (max_by over
the (seq, chg_idx) WAL order — no window, no join-back). Its map-typed
buffer plans it as a SortAggregate; it is kept because it is total
(one row per key, ties and null seq included) and measured faster
than the hash-aggregate + join-back alternative (see
:func:`latest_changes`). The merge is one equi-join on the key. With
the base bucketed by key (sources.write_bucketed) the join side is
co-located and the whole apply is a single shuffle of the (small)
change batch. The snapshot OVERWRITE in :func:`start_apply_query` is
the local-parquet stand-in for a real table format's row-level MERGE
(Delta/Iceberg) — the apply PLAN is the part that carries over.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from speculare_pgcdc_spark.catalog import eval_once

#: partition-column name of the banded snapshot layout (a RESERVED
#: name: user columns may not collide). Not underscore-prefixed —
#: Spark's partition discovery skips `_`/`.`-prefixed directories, so
#: `band=<i>` it is; the scalar `_band_width` marker file IS
#: underscore-prefixed precisely so readers ignore it.
BAND_COL = "band"


def _swap_recover(d: str) -> None:
    """Recover a dir-swap consumer's directory after a crash: a missing
    live dir with a surviving ``.old`` means the crash hit between the
    two renames — restore; a surviving ``.old`` NEXT TO the live dir is
    post-swap garbage — drop it."""
    old = f"{d}.old"
    if not os.path.exists(d) and os.path.exists(old):
        os.rename(old, d)
    elif os.path.exists(old):
        shutil.rmtree(old)


def _swap_commit(d: str, batch_id: int) -> None:
    """Atomically replace dir ``d`` with the batch's staged tmp dir."""
    _swap_commit_tmp(d, f"{d}.b{batch_id}.tmp")


def _swap_commit_tmp(d: str, tmp: str) -> None:
    """The swap core, keyed on an explicit staged dir. Tolerates an
    ABSENT live dir (the first-batch case of a from-scratch consumer,
    e.g. SCD2 with no seeded state) — this is the ONE canonical swap
    implementation; scd2.py delegates here instead of carrying its own
    copy (round-14 advice)."""
    old = f"{d}.old"
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(d):
        os.rename(d, old)
    os.rename(tmp, d)
    if os.path.exists(old):
        shutil.rmtree(old)


def _change_key(key_col: str, from_cols: bool = False):
    """The change's key as a string: row map for inserts/updates,
    oldkeys (v1) / identity (v2) from the raw payload for deletes.

    The delete key is located BY NAME in oldkeys.keynames / the
    identity entries — never positionally: a composite or reordered
    REPLICA IDENTITY (e.g. (tenant_id, event_id)) puts key_col at an
    arbitrary index, and taking [0] would silently delete the wrong
    row. Values go through variant 'array<string>' coercion, the same
    lenient typed-cell rule the v1/v2 parse uses for columnvalues.

    ``from_cols=True``: the frame was parsed with
    ``parse_wal2json(delete_keys=True)`` and carries the key
    names/values pre-extracted as ``_dk_names``/``_dk_vals`` (same
    by-name lookup, same lenient string coercion, v1 and v2 unified).
    That path never touches ``change_json``, so Catalyst prunes the
    to_json payload render AND this function's three re-parses out of
    the apply lineage — parse-once instead of
    parse -> serialize -> re-parse x3."""
    if from_cols:
        pos = F.array_position(F.col("_dk_names"), key_col)
        dk = F.when(
            pos > 0, F.try_element_at(F.col("_dk_vals"), pos.cast("int"))
        )
        return F.coalesce(F.try_element_at("row_str", F.lit(key_col)), dk)
    names = F.expr(
        "variant_get(try_parse_json(change_json), "
        "'$.oldkeys.keynames', 'array<string>')"
    )
    vals = F.expr(
        "variant_get(try_parse_json(change_json), "
        "'$.oldkeys.keyvalues', 'array<string>')"
    )
    pos = F.array_position(names, key_col)
    v1_del = F.when(pos > 0, F.try_element_at(vals, pos.cast("int")))
    idn = F.expr(
        "variant_get(try_parse_json(change_json), '$.identity', "
        "'array<struct<name:string,value:string>>')"
    )
    v2_del = F.try_element_at(
        F.filter(idn, lambda x: x["name"] == F.lit(key_col)), F.lit(1)
    )["value"]
    return F.coalesce(
        F.try_element_at("row_str", F.lit(key_col)), v1_del, v2_del
    )


def latest_changes(
    changes: DataFrame,
    key_col: str,
    key_t: str = "string",
    tables: list[str] | None = None,
) -> DataFrame:
    """Collapse a raw change batch to its per-key LATEST change in WAL
    order (seq, chg_idx): one row per changed key, columns
    ``key_col`` + ``_chg`` (struct kind, row_str). This frame —
    bounded by the batch's key count, never the snapshot — is the
    single parse of the batch; band discovery, the merge, and the
    touched-group derivation all read it (checkpointed by the
    caller), so the expensive feed-parse lineage runs ONCE per batch
    instead of once per consumer (round-13: the banded consumer's
    extra passes were re-parsing the batch three times).

    Total by construction: ``max_by`` emits exactly one row per
    distinct non-null key, whatever the order column holds. Changes
    whose key resolves to null are dropped. The order is the struct
    (seq, chg_idx) under Spark's struct ordering, so a null ``seq``
    sorts BELOW every non-null seq — such a change wins only when all
    of its key's changes have null seq, and its key is never lost.
    Ties (equal (seq, chg_idx): every seq-less file feed across
    messages, every v2 feed within one seq) still give one row; WHICH
    tied change wins is undefined.

    Plan: one aggregate over the full parsed batch. The map-typed
    ``_chg`` buffer is not hash-aggregable, so it plans as a
    SortAggregate. A hash ``max`` over a packed decimal ordinal plus a
    join back on (key, ordinal) avoids that sort, but it measured
    slower (interleaved same-session A/B, sf0.1, 7 rounds, 4 vCPUs:
    q96 median 2.18 s vs 2.55 s, q97 2.63 s vs 2.88 s), needs a
    change-grain pin, and returns every tied row."""
    rel = changes if tables is None else changes.filter(
        F.col("table_name").isin(tables)
    )
    keyed = rel.select(
        _change_key(key_col, "_dk_names" in changes.columns)
        .cast(key_t)
        .alias(key_col),
        F.struct("seq", "chg_idx").alias("_ord"),
        F.struct("kind", "row_str").alias("_chg"),
    )
    # Generate barrier before the null-key guard (r14, guide §4.4's
    # duplicate-evaluation defect): a filter above a projection is
    # pushed below it with the alias SUBSTITUTED, so filtering on the
    # key column directly re-ran the whole key expression — including
    # the full row_str map build it reads through — once in the pushed
    # filter and again in the projection. Behind catalog.eval_once the
    # row is evaluated exactly once and the guard tests a materialized
    # struct field instead.
    keyed = eval_once(keyed, key_col, "_ord", "_chg").filter(
        F.col(key_col).isNotNull()
    )
    return keyed.groupBy(key_col).agg(
        F.max_by("_chg", "_ord").alias("_chg")
    )


def apply_latest(
    base: DataFrame,
    latest: DataFrame,
    key_col: str,
    columns: dict[str, str],
) -> DataFrame:
    """Merge a :func:`latest_changes` frame into ``base``: upserts
    replace the row, deletes remove it, untouched keys pass through;
    one equi-join on the key."""
    ordered = [key_col, *[c for c in columns if c != key_col]]
    upserts = latest.filter(F.col("_chg.kind") != "delete").select(
        F.col(key_col),
        *[
            F.try_element_at("_chg.row_str", F.lit(c))
            .cast(t)
            .alias(c)
            for c, t in columns.items()
            if c != key_col
        ],
    )
    survivors = base.select(
        *[F.col(c).cast(columns.get(c, "string")).alias(c) for c in ordered]
    ).join(latest.select(key_col), key_col, "left_anti")
    return survivors.unionByName(upserts)


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    columns: dict[str, str],
    tables: list[str] | None = None,
) -> DataFrame:
    """Merge a change batch into ``base``: the snapshot after applying,
    per key, the LATEST change in WAL order (seq, chg_idx) — upserts
    replace the row, deletes remove it, untouched keys pass through.

    ``columns`` maps output column name -> cast type; the result (and
    the base projection) has exactly ``key_col`` + these columns, in
    that order. ``tables`` restricts which normalized table_names apply
    (None = all). Assumes one logical key space across the applied
    tables (the hypertable-chunk case: all chunks of one table).
    """
    # latest feeds BOTH the upsert projection and the survivors
    # anti-join; without a checkpoint each consumer re-runs the whole
    # feed-parse lineage (the expensive part), doubling the parse
    # volume. The checkpointed frame is bounded by the batch's key
    # count, not the snapshot.
    latest = latest_changes(
        changes, key_col, columns.get(key_col, "string"), tables
    ).localCheckpoint(eager=False)
    return apply_latest(base, latest, key_col, columns)


def touched_groups_latest(
    old_snapshot: DataFrame,
    latest: DataFrame,
    key_col: str,
    group_col: str,
) -> DataFrame:
    """Distinct group values a change batch can affect, from its
    :func:`latest_changes` frame: the OLD group of every changed key
    (updates/deletes pull their group from the pre-apply snapshot —
    wal2json deletes carry no columns) plus the NEW group of every
    net-surviving upsert. One column (``group_col``), distinct.
    Bounded by the batch's key count, never by the snapshot, and reads
    the already-parsed batch, so the group derivation costs no
    re-parse. The new group of an upsert that a later same-batch
    delete erased is skipped: that group's content cannot differ
    post-apply (refreshing it would be a no-op)."""
    old_side = (
        old_snapshot.select(key_col, group_col)
        .join(latest.select(key_col), key_col)  # latest: one row/key
        .select(group_col)
    )
    new_side = latest.filter(F.col("_chg.kind") != "delete").select(
        F.try_element_at("_chg.row_str", F.lit(group_col)).cast(
            dict(old_snapshot.select(group_col).dtypes)[group_col]
        ).alias(group_col)
    )
    return old_side.unionByName(new_side).distinct()


def refresh_aggregates(
    matview: DataFrame,
    new_snapshot: DataFrame,
    groups: DataFrame,
    group_col: str,
    agg_cols: list,
) -> DataFrame:
    """Incremental materialized-view maintenance (IVM): re-aggregate
    ONLY the groups a batch touched, carry every other matview row
    forward untouched. ``groups`` is the one-column frame from
    :func:`touched_groups_latest`; ``agg_cols`` the aliased aggregate
    expressions (the view definition).

    Why partial recompute instead of +/- deltas: wal2json deletes (and
    update-old-images) carry no value columns without REPLICA IDENTITY
    FULL, so subtractive maintenance has nothing to subtract — but the
    touched GROUPS are always derivable (old group via key join, new
    group from the upsert row). Cost is O(batch) + a scan of the
    touched groups' slice of the snapshot — with the snapshot
    partitioned/bucketed by group that slice is partition-pruned; the
    broadcast semi/anti joins never shuffle the snapshot or the view.
    A group whose last row was deleted drops out of both sides, i.e.
    the view row disappears, matching a full recompute."""
    g = F.broadcast(groups)
    recomputed = (
        new_snapshot.join(g, group_col, "left_semi")
        .groupBy(group_col)
        .agg(*agg_cols)
    )
    kept = matview.join(g, group_col, "left_anti")
    return kept.unionByName(recomputed)


def start_apply_query(
    changes_stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    key_col: str,
    columns: dict[str, str],
    tables: list[str] | None = None,
    query_name: str = "cdc-apply",
    available_now: bool = False,
):
    """Maintain a parquet snapshot from the live change stream: each
    microbatch reads the current snapshot, applies the batch
    (:func:`apply_changes`), and atomically replaces it — the
    materialized-table consumer of watch()'s dataflow. foreachBatch +
    checkpointed offsets give at-least-once application; apply is
    idempotent per batch (latest-change-per-key), so replays converge.

    The full-overwrite is correct-but-local: a durable deployment
    swaps this writer for a table format with row-level merge; the
    upstream plan is unchanged."""
    spark = changes_stream.sparkSession
    ordered = [key_col, *[c for c in columns if c != key_col]]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # crash between _swap_commit's renames leaves only .old (no
        # live snapshot): _swap_recover restores it — the checkpoint
        # replays the batch and apply is idempotent, so converging
        # from the pre-batch state is correct.
        _swap_recover(snapshot_dir)
        base = spark.read.parquet(snapshot_dir)
        out = apply_changes(base, batch_df, key_col, columns, tables)
        tmp = f"{snapshot_dir}.b{batch_id}.tmp"
        out.select(*ordered).write.mode("overwrite").parquet(tmp)
        _swap_commit(snapshot_dir, batch_id)

    writer = (
        changes_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_matview_query(
    changes_stream: DataFrame,
    snapshot_dir: str,
    matview_dir: str,
    checkpoint_dir: str,
    key_col: str,
    columns: dict[str, str],
    group_col: str,
    agg_cols_fn,
    tables: list[str] | None = None,
    query_name: str = "cdc-matview",
    available_now: bool = False,
):
    """Maintain a parquet snapshot AND an incrementally-refreshed
    aggregate view from the live change stream — the streaming twin of
    q97's batch IVM (touched_groups_latest + refresh_aggregates per
    microbatch, only touched groups recomputed, every other view row
    carried forward).

    ``agg_cols_fn`` is a zero-arg callable returning the aliased
    aggregate expressions (Column objects aren't reusable across
    microbatch plans, so the view definition is re-built per batch).

    Recovery doctrine matches :func:`start_apply_query`: checkpointed
    offsets give at-least-once batch delivery; apply is idempotent and
    the view refresh recomputes from the post-apply snapshot, so a
    replayed batch converges both artifacts. Commit ORDER is
    load-bearing (round-12 advice): the VIEW swaps first, the snapshot
    second. A crash between the swaps then replays the batch against
    the PRE-batch snapshot — the touched groups still include the OLD
    group of every delete and group-moving update, and re-refreshing the
    already-committed view recomputes those groups to the same values
    (convergent). The old order (snapshot first) was wrong for exactly
    those shapes: the replay computed the touched groups from the
    POST-apply snapshot, where a deleted/moved row's old group is
    unrecoverable, so its stale view row was carried forward
    permanently.
    """
    spark = changes_stream.sparkSession
    ordered = [key_col, *[c for c in columns if c != key_col]]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _swap_recover(snapshot_dir)
        _swap_recover(matview_dir)
        base = spark.read.parquet(snapshot_dir)
        mv_old = spark.read.parquet(matview_dir)
        # ONE parse of the batch (eager, batch-key-bounded) shared by
        # the merge and the group derivation
        lat = latest_changes(
            batch_df, key_col, columns.get(key_col, "string"), tables
        ).localCheckpoint(eager=True)
        new_snapshot = apply_latest(
            base, lat, key_col, columns
        ).localCheckpoint(eager=True)
        groups = touched_groups_latest(base, lat, key_col, group_col)
        mv_new = refresh_aggregates(
            mv_old, new_snapshot, groups, group_col, agg_cols_fn()
        )
        # BOTH tmp writes land before either directory swaps — the
        # view plan reads the PRE-swap snapshot (touched_groups_latest'
        # old-group join) and the pre-swap view, so swapping the
        # snapshot first would pull files out from under a lazy scan
        new_snapshot.select(*ordered).write.mode("overwrite").parquet(
            f"{snapshot_dir}.b{batch_id}.tmp"
        )
        mv_new.select(*mv_old.columns).write.mode("overwrite").parquet(
            f"{matview_dir}.b{batch_id}.tmp"
        )
        # view first, snapshot second — see the recovery-doctrine note
        # in the docstring (a crash between the two must leave the
        # PRE-batch snapshot so the replay can still derive old groups)
        _swap_commit(matview_dir, batch_id)
        _swap_commit(snapshot_dir, batch_id)

    writer = (
        changes_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Banded snapshot layout (round-13, r12 verdict item 3): the
# partition-confined alternative to the full-snapshot rewrite above.
#
# start_matview_query pays two snapshot-scale parquet WRITES per
# microbatch — the one consumer whose per-batch cost grows with
# snapshot size, not batch size (STREAM_BENCH_r12: 8.4k changes/s at 4
# microbatches vs 15.7k dispatch). The fix: store the snapshot
# range-partitioned into key BANDS (`band=<i>` subdirs, band =
# floor(key / band_width)), and per batch rewrite ONLY the bands that
# contain changed keys. WAL batches have key-range locality natively —
# commit order means inserts carry sequence-adjacent keys, and the
# reference's hypertable chunks (src/cdc/mod.rs:11-18) ARE time-range
# partitions — so a txn-ordered feed touches a small, contiguous band
# set per batch. A key-scrambled feed degrades gracefully to the full
# rewrite (every band touched), never to wrong answers.
#
# At warehouse scale this is exactly partition-confined MERGE: bands
# map to table-format partitions, the per-band dir swap to a
# partition-level commit. The local-parquet mechanics below keep the
# same crash doctrine as the single-dir swap, one band at a time.
# ---------------------------------------------------------------------------


def band_of(key_col: str, band_width: int):
    """Band id of a (numeric, |key| < 2^53) key: floor(key / width)."""
    return F.floor(F.col(key_col).cast("double") / F.lit(band_width)).cast(
        "int"
    )


#: auto band sizing target: rows per band when neither n_bands nor
#: band_width is passed. ~500k rows keeps a band's parquet rewrite in
#: the tens-of-MB range at typical CDC row widths — small enough that
#: a touched-band rewrite is cheap, large enough that band COUNT (and
#: with it per-batch band-dir bookkeeping) stays in the hundreds even
#: at 10^9-row snapshots.
TARGET_ROWS_PER_BAND = 500_000
#: auto band-count clamp (4096 dirs is already generous; beyond that
#: the per-band fixed costs dominate — see SCD2_BAND_PROBE_r13)
MAX_AUTO_BANDS = 4096


def write_banded_snapshot(
    df: DataFrame,
    root: str,
    key_col: str,
    n_bands: int | None = None,
    band_width: int | None = None,
    target_rows_per_band: int = TARGET_ROWS_PER_BAND,
) -> int:
    """Seed the banded layout: parquet partitioned by ``band=<i>`` with
    band_width sized so the CURRENT key range spans the band count
    (keys inserted later simply grow new band dirs). The chosen width
    is persisted in a ``_band_width`` marker (underscore-prefixed ->
    invisible to parquet readers) so consumers band identically
    forever — a re-derived width would silently re-home every key;
    ``start_*_banded`` reads the marker, the caller never re-supplies
    the choice.

    Band-count selection (round-13 verdict #5 — defaults instead of a
    hand-picked count): when ``n_bands`` is omitted it derives from
    the SEED SIZE as ``ceil(rows / target_rows_per_band)`` clamped to
    [1, 4096], so a small seed gets few bands (no thousand-dir layout
    for 60k rows) and a large one lands near the target rows/band.
    Pass ``n_bands`` to pin a count, or ``band_width`` to pin the
    width itself (required for an EMPTY seed, e.g. a from-scratch
    SCD2 state, where no key range or size exists to derive from)."""
    if band_width is not None:
        width = band_width
        part_bands = n_bands or 32
    else:
        cnt, lo, hi = df.agg(
            F.count(F.lit(1)),
            F.min(F.col(key_col).cast("bigint")),
            F.max(F.col(key_col).cast("bigint")),
        ).first()
        if lo is None:
            raise ValueError(
                "empty seed frame: pass band_width explicitly (no key "
                "range to derive it from)"
            )
        if n_bands is None:
            n_bands = max(
                1,
                min(
                    MAX_AUTO_BANDS,
                    -(-int(cnt) // max(1, target_rows_per_band)),
                ),
            )
        width = max(1, (int(hi) - min(int(lo), 0)) // n_bands + 1)
        part_bands = n_bands
    (
        df.withColumn(BAND_COL, band_of(key_col, width))
        # one file per band (see the consumer's small-file note)
        .repartition(part_bands, F.col(BAND_COL))
        .write.partitionBy(BAND_COL)
        .mode("overwrite")
        .parquet(root)
    )
    with open(os.path.join(root, "_band_width"), "w") as f:
        f.write(str(width))
    return width


def read_band_width(root: str) -> int:
    with open(os.path.join(root, "_band_width")) as f:
        return int(f.read().strip())


def read_banded_snapshot(spark: SparkSession, root: str) -> DataFrame:
    """The logical snapshot (band partition column dropped)."""
    return spark.read.parquet(root).drop(BAND_COL)


def _recover_bands(root: str) -> None:
    """Per-band crash recovery, same doctrine as :func:`_swap_recover`
    but scoped to ``band=<i>`` subdirs; leftover batch tmp roots are
    incomplete (or fully-drained) stages — the replay regenerates
    them, so they are dropped."""
    # match on the BASENAME: with a relative root (e.g. 'state') the
    # joined path is './state.b5.tmp' which never startswith
    # 'state.b', silently leaking abandoned batch tmp roots forever
    # (round-14 advice fix, pinned by test_recover_bands_relative_root)
    parent = os.path.dirname(root) or "."
    base = os.path.basename(root)
    for entry in os.listdir(parent):
        if entry.startswith(f"{base}.b") and entry.endswith(".tmp"):
            shutil.rmtree(os.path.join(parent, entry))
    if not os.path.isdir(root):
        return
    for entry in os.listdir(root):
        if entry.endswith(".old"):
            live = os.path.join(root, entry[: -len(".old")])
            stale = os.path.join(root, entry)
            if not os.path.exists(live):
                os.rename(stale, live)
            else:
                shutil.rmtree(stale)


def _commit_bands(root: str, tmp: str, bands: list[int]) -> None:
    """Swap each touched band dir atomically: a staged ``band=<i>``
    under ``tmp`` replaces the live one; a touched band ABSENT from
    ``tmp`` had every row deleted — the live dir is removed. Each band
    follows the rename/.old doctrine independently, so a crash leaves
    some bands pre-batch and some post-batch — safe, because the apply
    is idempotent per band and the view committed FIRST (see
    :func:`start_matview_query_banded`)."""
    for b in bands:
        live = os.path.join(root, f"{BAND_COL}={b}")
        staged = os.path.join(tmp, f"{BAND_COL}={b}")
        old = f"{live}.old"
        if os.path.exists(staged):
            if os.path.exists(live):
                os.rename(live, old)
                os.rename(staged, live)
                shutil.rmtree(old)
            else:
                os.rename(staged, live)
        elif os.path.exists(live):
            os.rename(live, old)
            shutil.rmtree(old)
    shutil.rmtree(tmp, ignore_errors=True)


def seed_band_partials(
    spark: SparkSession,
    snapshot_root: str,
    group_col: str,
    agg_cols_fn,
    partials_dir: str,
) -> None:
    """Seed the per-(band, group) partial-aggregate state for
    :func:`start_matview_query_banded`'s partial-maintenance mode from
    an already-banded snapshot. The partials frame is tiny (bands x
    groups rows), so it coalesces to one file."""
    snap = spark.read.parquet(snapshot_root)
    (
        snap.groupBy(BAND_COL, group_col)
        .agg(*agg_cols_fn())
        .coalesce(1)
        .write.parquet(partials_dir)
    )


def _validate_mergeable(
    spark: SparkSession,
    snapshot_dir: str,
    group_col: str,
    agg_cols_fn,
    merge_cols_fn,
    sample_rows: int = 512,
) -> None:
    """Refuse a NON-ALGEBRAIC (agg_cols_fn, merge_cols_fn) spec at
    stream start (round-13 verdict #6): band-partial maintenance is
    correct only when merging two halves' partials equals the partial
    of the union — a median/percentile-style spec violates that and
    would silently diverge from the view==recompute integrity check
    batch after batch. The probe is EMPIRICAL: over a small snapshot
    sample, ``merge(partial(half0), partial(half1))`` must equal
    ``merge(partial(all))`` (merge over a singleton also catches a
    merge that isn't identity on one partial). One tiny driver-side
    job at start; an empty seed snapshot can't disprove anything and
    skips the probe (documented)."""
    probe = (
        read_banded_snapshot(spark, snapshot_dir)
        .limit(sample_rows)
        .localCheckpoint(eager=True)
    )
    if not probe.take(1):
        return
    halves = probe.withColumn(
        "_h", (F.monotonically_increasing_id() % 2).cast("int")
    )
    merged = (
        halves.groupBy("_h", group_col)
        .agg(*agg_cols_fn())
        .groupBy(group_col)
        .agg(*merge_cols_fn())
    )
    expected = (
        probe.groupBy(group_col)
        .agg(*agg_cols_fn())
        .groupBy(group_col)
        .agg(*merge_cols_fn())
    )

    def _rows(df):
        # one row per group; order by the group's string form (mixed
        # None/float tuples don't sort directly)
        cols = [group_col] + sorted(
            c for c in df.columns if c != group_col
        )
        return [
            tuple(row[c] for c in cols)
            for row in sorted(
                df.collect(), key=lambda r: str(r[group_col])
            )
        ]

    def _cell_eq(a, b) -> bool:
        if isinstance(a, float) or isinstance(b, float):
            if a is None or b is None:
                return a is b
            return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
        return a == b

    got, want = _rows(merged), _rows(expected)
    ok = len(got) == len(want) and all(
        len(g) == len(w) and all(map(_cell_eq, g, w))
        for g, w in zip(got, want)
    )
    if not ok:
        diffs = [
            (g, w) for g, w in zip(got, want) if g != w
        ][:3]
        raise ValueError(
            "band-partial maintenance requires an ALGEBRAIC "
            "(agg_cols_fn, merge_cols_fn) pair: merging two halves' "
            "partials diverged from the partial of the union on a "
            f"snapshot sample (first diffs merged-vs-direct: {diffs}). "
            "Holistic aggregates (median, exact percentile, mode) "
            "cannot ride partials — use the scan-refresh mode (omit "
            "merge_cols_fn/partials_dir) for those views."
        )


def start_matview_query_banded(
    changes_stream: DataFrame,
    snapshot_dir: str,
    matview_dir: str,
    checkpoint_dir: str,
    key_col: str,
    columns: dict[str, str],
    group_col: str,
    agg_cols_fn,
    tables: list[str] | None = None,
    query_name: str = "cdc-matview-banded",
    available_now: bool = False,
    merge_cols_fn=None,
    partials_dir: str | None = None,
):
    """Partition-confined twin of :func:`start_matview_query`: the
    snapshot lives in the banded layout (seed with
    :func:`write_banded_snapshot`), and each microbatch rewrites ONLY
    the bands containing the batch's changed keys.

    Two view-maintenance modes:

    * **Scan refresh** (default): the view's touched groups are
      re-aggregated from the full new snapshot. Per-batch cost is
      O(touched bands) WRITTEN + one snapshot-scale SCAN. Works for
      ANY aggregate shape (including non-decomposable ones — exact
      medians, mode), because the refresh recomputes from rows.
    * **Band-partial maintenance** (pass ``merge_cols_fn`` +
      ``partials_dir``, seed with :func:`seed_band_partials`): the
      consumer keeps per-(band, group) ALGEBRAIC partials; each batch
      recomputes partials only for the touched bands (from the
      already-materialized new band content — deletes need no
      subtraction because the partial is rebuilt, not adjusted) and
      re-merges the tiny partials frame into the view.
      ``agg_cols_fn`` computes the partial exprs over rows;
      ``merge_cols_fn`` combines partials (the classic partial/merge
      split Spark's own partial_sum model uses — e.g. partial
      [count->n, sum(v)->sv] merges as [sum(n)->n, sum(sv)->sv]).
      Per-batch cost is O(touched bands) — NO snapshot-scale scan or
      write anywhere, the shape that stays flat as the snapshot grows
      (IVM_SCALE_PROBE_r13: the scan-refresh mode's residual growth
      is exactly the view scan this mode removes).

    Recovery doctrine: the view commits FIRST, then partials (if
    any), then bands swap one at a time. A crash mid-band-commit
    replays the batch against a MIXED snapshot — already-swapped
    bands re-apply as no-ops (latest-per-key apply is idempotent),
    not-yet-swapped bands apply normally, so the snapshot converges;
    the old group of a delete/move in an already-swapped band is no
    longer derivable, but that group's view row was already committed
    correct and the refresh carries it forward untouched (scan mode) /
    its partial was already committed recomputed (partial mode, any
    commit order converges since partials rebuild from new_t). The
    view-first order is load-bearing for exactly that case (the
    round-12 advice on the unbanded consumer).
    """
    if (merge_cols_fn is None) != (partials_dir is None):
        raise ValueError(
            "partial-maintenance mode needs BOTH merge_cols_fn and "
            "partials_dir (seed the latter with seed_band_partials)"
        )
    spark = changes_stream.sparkSession
    if merge_cols_fn is not None:
        _validate_mergeable(
            spark, snapshot_dir, group_col, agg_cols_fn, merge_cols_fn
        )
    ordered = [key_col, *[c for c in columns if c != key_col]]
    key_t = columns.get(key_col, "bigint")
    width = read_band_width(snapshot_dir)
    schema_str = ", ".join(f"{c} {columns[c]}" for c in ordered)

    def _snap(path_root: str) -> DataFrame:
        if not any(
            e.startswith(f"{BAND_COL}=") for e in os.listdir(path_root)
        ):  # every row deleted: no band dirs left to infer schema from
            return spark.createDataFrame(
                [], f"{schema_str}, {BAND_COL} int"
            )
        return spark.read.parquet(path_root)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _recover_bands(snapshot_dir)
        _swap_recover(matview_dir)
        if partials_dir is not None:
            _swap_recover(partials_dir)
        # scan-refresh mode needs the whole snapshot (untouched bands
        # feed the view re-aggregate); partial mode never does, and
        # building the frame costs a full-root partition discovery
        snap = _snap(snapshot_dir) if partials_dir is None else None
        mv_old = spark.read.parquet(matview_dir)
        # ONE parse of the batch (eager, batch-key-bounded); band
        # discovery, the merge, and the group derivation all read the
        # checkpoint instead of re-running the feed-parse lineage
        lat = latest_changes(
            batch_df, key_col, key_t, tables
        ).localCheckpoint(eager=True)
        bands = sorted(
            r[0]
            for r in lat.select(band_of(key_col, width).alias("b"))
            .distinct()
            .collect()
        )
        if not bands:
            return
        live_paths = [
            os.path.join(snapshot_dir, f"{BAND_COL}={b}")
            for b in bands
            if os.path.isdir(
                os.path.join(snapshot_dir, f"{BAND_COL}={b}")
            )
        ]
        if partials_dir is not None:
            # partial mode never scans untouched bands, so the base
            # read targets ONLY the touched band dirs — full-root
            # partition discovery lists every band and becomes the
            # dominant fixed cost once bands number in the hundreds
            base_t = (
                spark.read.option("basePath", snapshot_dir)
                .parquet(*live_paths)
                .drop(BAND_COL)
                if live_paths
                else spark.createDataFrame([], schema_str)
            )
        else:
            base_t = snap.filter(
                F.col(BAND_COL).isin(bands)
            ).drop(BAND_COL)
        # bounded by the touched bands, not the snapshot; eager so the
        # write and the view plan never re-read pre-swap band dirs.
        # The checkpoint materializes POST band-clustering (one hash
        # partition per touched band), so the partitioned write below
        # emits one file per band with no extra stage — repeated
        # batches would otherwise compound into a small-file explosion
        # that taxes every later snapshot scan.
        new_t = (
            apply_latest(base_t, lat, key_col, columns)
            .withColumn(BAND_COL, band_of(key_col, width))
            .repartition(max(len(bands), 1), F.col(BAND_COL))
            .localCheckpoint(eager=True)
        )
        if partials_dir is not None:
            # band-partial maintenance: touched bands' partials are
            # REBUILT from the new band content (no delete
            # subtraction), untouched bands' carry forward; the view
            # is a merge of the tiny partials frame — nothing here
            # scans or writes at snapshot scale
            parts_old = spark.read.parquet(partials_dir)
            new_parts = new_t.groupBy(BAND_COL, group_col).agg(
                *agg_cols_fn()
            )
            parts_new = parts_old.filter(
                ~F.col(BAND_COL).isin(bands)
            ).unionByName(new_parts.select(*parts_old.columns))
            mv_new = parts_new.groupBy(group_col).agg(
                *merge_cols_fn()
            )
        else:
            untouched = snap.filter(
                ~F.col(BAND_COL).isin(bands)
            ).select(*ordered)
            full_new = untouched.unionByName(new_t.select(*ordered))
            groups = touched_groups_latest(
                base_t, lat, key_col, group_col
            )
            mv_new = refresh_aggregates(
                mv_old, full_new, groups, group_col, agg_cols_fn()
            )
            parts_new = None
        tmp = f"{snapshot_dir}.b{batch_id}.tmp"
        (
            new_t.write.partitionBy(BAND_COL)
            .mode("overwrite")
            .parquet(tmp)
        )
        mv_new.select(*mv_old.columns).write.mode("overwrite").parquet(
            f"{matview_dir}.b{batch_id}.tmp"
        )
        if parts_new is not None:
            parts_new.coalesce(1).write.mode("overwrite").parquet(
                f"{partials_dir}.b{batch_id}.tmp"
            )
        _swap_commit(matview_dir, batch_id)
        if parts_new is not None:
            _swap_commit(partials_dir, batch_id)
        _commit_bands(snapshot_dir, tmp, bands)

    writer = (
        changes_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
