"""CDC core: incremental scan, validation split, keyed apply, replica view.

Re-expresses the reference's change-data-capture semantics
(Yaliang105/cdc-kafka-project) as declarative DataFrame transforms:

* incremental scan with a watermark predicate   (producer.py:30-35)
* validation + dead-letter routing              (consumer.py:44-58)
* last-writer-wins per key                      (implicit in the
  reference: ORDER BY last_updated_at + single Kafka partition +
  single consumer, producer.py:34 / consumer.py:26-34 — made explicit
  here as a window dedup so it survives parallelism)
* insert/update/delete apply                    (consumer.py:70-91)

Design stance: **the change-log is a DataFrame; the replica is a view.**
``apply_changes`` turns any append-only change-log into the
latest-state table in one shuffle (hash partition by key), with no
per-row connections, no global sort, and no driver-side loop — the
properties that make it survive 100 TB where the reference's
row-at-a-time apply cannot.

All functions are generic over (key_cols, order_cols, action_col) and
are shared by the batch and Structured Streaming paths (the streaming
pipeline routes with ``routes_to_dlq`` and reads its replica through
the same ``apply_changes`` and ``compact_log``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Action vocabulary (project2_dag.py trigger: 'insert'|'update'|'delete';
#: consumer.py:44 lower-cases before dispatch, we do the same).
INSERT, UPDATE, DELETE = "insert", "update", "delete"


def normalize_actions(df: DataFrame, action_col: str = "action") -> DataFrame:
    """lower(action) — consumer.py:44's str().lower() as a column op."""
    return df.withColumn(action_col, F.lower(F.col(action_col)))


def incremental_scan(
    df: DataFrame,
    watermark: str | None,
    ts_col: str = "last_updated_at",
) -> DataFrame:
    """Rows strictly newer than the high-water mark (producer.py:30-35).

    The predicate is a plain Catalyst filter, so it pushes down to the
    source (parquet min/max pruning, JDBC WHERE, Kafka startingOffsets
    in the streaming path). The reference's ORDER BY (producer.py:34)
    is deliberately NOT reproduced: a global sort at 100 TB is the
    bottleneck, and per-key ordering is all the apply step needs —
    ``apply_changes`` recovers it with a window.
    """
    if watermark is None:
        return df
    return df.filter(F.col(ts_col) > F.lit(watermark))


def employee_invalid_predicate(
    dob_col: str = "dob", salary_col: str = "salary", id_col: str = "emp_id"
) -> Column:
    """The reference's validation gate (consumer.py:47-48).

    invalid  <=>  year(dob) <= 2007 OR salary <= 100 OR emp_id < 0
    with dob-year null-guarded to 0 (consumer.py:47's ``except: 0``).
    """
    dob_year = F.coalesce(F.year(F.col(dob_col)), F.lit(0))
    return (
        (dob_year <= F.lit(2007))
        | (F.col(salary_col) <= F.lit(100))
        | (F.col(id_col) < F.lit(0))
    )


def routes_to_dlq(invalid: Column) -> Column:
    """True where a row goes to the DLQ: the validation predicate holds
    or is NULL. The one NULL rule of both DLQ routes — the batch
    ``validate_split`` and the streaming sink's ``route`` column
    (streaming/pipeline.py). The reference would have crashed into its
    broad except at consumer.py:95 on a NULL; we route, never swallow
    (SURVEY §2 #28)."""
    return F.coalesce(invalid, F.lit(True))


def validate_split(
    df: DataFrame, invalid: Column
) -> tuple[DataFrame, DataFrame]:
    """(valid, dlq) off one logical scan (consumer.py:48-58).

    The reference re-publishes the *original payload* of invalid rows to
    a DLQ topic and drops them from the main flow; here both branches
    are filters over the same plan so the source is scanned once per
    sink, with the predicate pushed down. NULL-safe: rows where the
    predicate is NULL are routed to the DLQ (``routes_to_dlq``).
    """
    inv = routes_to_dlq(invalid)
    return df.filter(~inv), df.filter(inv)


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Last-writer-wins: keep the newest change row per key.

    The explicit form of the reference's implicit ordering guarantee
    (SURVEY §2 #19). ``order_cols`` should end with a tiebreaker (seq /
    Kafka offset) — the reference breaks ``last_updated_at`` ties by log
    position, which a parallel engine must encode explicitly.

    One shuffle on ``key_cols``; the window sort is per-partition and
    spills gracefully. At scale, pre-bucketing the change-log by key
    makes this shuffle-free.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_changes(
    changelog: DataFrame,
    key_cols: Sequence[str] = ("emp_id",),
    order_cols: Sequence[str] = ("last_updated_at", "seq"),
    action_col: str = "action",
    delete_action: str = DELETE,
) -> DataFrame:
    """Change-log -> current replica state (consumer.py:70-91 collapsed).

    insert/update collapse into "latest row image wins"; delete removes
    the key. Replays are idempotent by construction (same log -> same
    state), strictly stronger than the reference's ON CONFLICT paper-over
    (consumer.py:74).
    """
    latest = latest_per_key(normalize_actions(changelog, action_col), key_cols, order_cols)
    return latest.filter(F.col(action_col) != F.lit(delete_action))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    action_col: str = "action",
) -> DataFrame:
    """Change capture without a trigger: diff two table snapshots into
    insert/update/delete events (SURVEY §2 #21 brought in-engine).

    The reference captures changes with a plpgsql AFTER-trigger
    (project2_dag.py:45-72) — unavailable when the source is a plain
    table/export. The engine-side equivalent is one full outer join on
    the key: key only in ``new`` -> insert (NEW.* image), only in
    ``old`` -> delete (OLD.* image, matching the trigger's delete row),
    in both -> update (NEW.* image) iff any non-key column differs —
    unchanged rows emit nothing, exactly the trigger's firing rule.

    One co-partitioned shuffle on the key (both sides hash the same
    key; pre-bucketed snapshots make it shuffle-free). Null-safe
    equality (``eqNullSafe``) so NULL -> value and value -> NULL count
    as changes.
    """
    keys = list(key_cols)
    data_cols = [c for c in new.columns if c not in keys]
    if [c for c in old.columns if c not in keys] != data_cols:
        raise ValueError("old/new snapshots must share the same schema")
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in data_cols],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in data_cols],
        F.lit(True).alias("__in_new"),
    )
    # eqNullSafe so a NULL key component matches its NULL counterpart;
    # presence comes from explicit markers, not key-null-ness, so rows
    # with NULL keys are still classified correctly.
    cond = None
    for k in keys:
        eq = F.col(f"__ok_{k}").eqNullSafe(F.col(f"__nk_{k}"))
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full_outer")
    in_old = F.coalesce(F.col("__in_old"), F.lit(False))
    in_new = F.coalesce(F.col("__in_new"), F.lit(False))
    changed = None
    for c in data_cols:
        ne = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        changed = ne if changed is None else changed | ne
    action = (
        F.when(~in_old, F.lit(INSERT))
        .when(~in_new, F.lit(DELETE))
        .when(changed if changed is not None else F.lit(False), F.lit(UPDATE))
    )
    out_keys = [
        F.coalesce(F.col(f"__nk_{k}"), F.col(f"__ok_{k}")).alias(k)
        for k in keys
    ]
    # row image: NEW.* for insert/update, OLD.* for delete — the
    # trigger's NEW/OLD choice (project2_dag.py:49-66)
    out_data = [
        F.when(in_new, F.col(f"__n_{c}")).otherwise(F.col(f"__o_{c}")).alias(c)
        for c in data_cols
    ]
    return (
        j.select(*out_keys, *out_data, action.alias(action_col))
        .filter(F.col(action_col).isNotNull())
    )


def merge_upsert(
    replica: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str] = ("emp_id",),
    order_cols: Sequence[str] = ("last_updated_at", "seq"),
    action_col: str = "action",
) -> DataFrame:
    """MERGE-emulation for incremental maintenance (no Delta in this env).

    new_replica = apply(changes)  ∪  (replica ⟕anti changes.keys)

    i.e. rows whose key saw any change are replaced by the change-log
    outcome (which may be nothing, for deletes); untouched rows pass
    through. The anti-join broadcasts when the micro-batch of changes is
    small — the common case — so incremental maintenance costs one
    broadcast hash join, not a full shuffle of the replica.
    Callers: the registered ``cdc_merge_upsert`` query
    (queries/cdc_surface.py) and tests.
    """
    new_state = apply_changes(changes, key_cols, order_cols, action_col)
    changed_keys = changes.select(*key_cols).distinct()
    untouched = replica.join(F.broadcast(changed_keys), list(key_cols), "left_anti")
    return untouched.unionByName(new_state.select(*replica.columns))


def compact_log(
    changelog: DataFrame,
    key_cols: Sequence[str] = ("emp_id",),
    order_cols: Sequence[str] = ("last_updated_at", "seq"),
    action_col: str = "action",
    delete_action: str = DELETE,
    retain_deletes: bool = True,
) -> DataFrame:
    """Change-log compaction: the periodic maintenance job that keeps
    the append-only curated log from growing without bound (the
    streaming replica's base, ``CdcFileStreamPipeline``).

    Rewrites the log to one row per key — the latest change — which is
    sufficient for every downstream read (``apply_changes`` over a
    compacted log yields the identical replica, the invariant the test
    pins). Kafka calls this a compacted topic; Delta/Iceberg call it
    rewrite/expire — same contract, pure DataFrame here.

    ``retain_deletes=True`` keeps delete tombstones so a re-compaction
    or late consumer still sees the removal; a second pass with
    ``False`` drops tombstones once every consumer has passed them
    (Kafka's delete.retention.ms analog).

    Cost: exactly the one keyed shuffle of ``latest_per_key``; output
    size is |live keys|, so each periodic run gets cheaper than the
    last for update-heavy logs.
    """
    latest = latest_per_key(
        normalize_actions(changelog, action_col), key_cols, order_cols
    )
    if retain_deletes:
        return latest
    return latest.filter(F.col(action_col) != F.lit(delete_action))


def scd2_history(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    ts_col: str = "last_updated_at",
    valid_to_col: str = "valid_to_ts",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension Type-2 view of a change log: every
    change event opens a version row; the version closes when the next
    event for the same key arrives (``valid_to_ts`` = that event's
    time, NULL = still current).

    The reference's apply path (consumer.py:80-88) overwrites rows in
    place, destroying history; SCD2 is the auditable variant every
    warehouse asks of a CDC engine. The event's own ``ts_col`` is the
    version's valid-from; ``order_cols`` must end in a total per-key
    tiebreaker (log position) exactly as ``latest_per_key`` requires.

    Cost: one hash shuffle on the key + a per-key sorted window — the
    same partitioning the apply step uses, so a pipeline computing both
    shares a single exchange.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    nxt = F.lead(ts_col).over(w)
    return df.withColumn(valid_to_col, nxt).withColumn(
        current_col, nxt.isNull()
    )


def merge_agg_states(
    base: DataFrame,
    delta: DataFrame,
    key_cols: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Incremental maintenance of a keyed aggregate: combine a
    materialized aggregate state with the aggregate of a new change
    batch, key-aligned, without re-aggregating history.

    Both inputs carry the same schema: keys + *additive* partials
    (counts, LONG/DECIMAL sums — anything where combine = ``+``; a
    min/max state needs a different combine and is NOT accepted here).
    Keys present in one side pass through unchanged — including a NULL
    partial (SUM of all-NULL values), which stays NULL rather than
    collapsing to 0; keys in both add their partials with NULLs
    treated as additive identity. This is Project 1's running total
    (``ON CONFLICT DO UPDATE ... + salary``, pdf p.4-6) generalized to
    any associative state — and the reason the engine never needs to
    rescan 100 TB of history to refresh a dashboard: the merge touches
    |keys| + |changed keys| rows, not |history|. The full-outer join
    cannot broadcast (no Spark full-outer broadcast strategy); the
    scale path is a co-partitioned merge — the base state is
    materialized bucketed by key, so only the (tiny) delta shuffles
    and the join itself is exchange-free on the base side.
    """
    keys = list(key_cols)
    d = delta.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"__d_{c}") for c in sum_cols],
    )
    j = base.join(d, keys, "full_outer")
    zero = F.lit(0)
    out = [
        F.when(
            F.col(c).isNull() & F.col(f"__d_{c}").isNull(),
            F.lit(None),
        )
        .otherwise(
            F.coalesce(F.col(c), zero) + F.coalesce(F.col(f"__d_{c}"), zero)
        )
        .alias(c)
        for c in sum_cols
    ]
    return j.select(*keys, *out)
