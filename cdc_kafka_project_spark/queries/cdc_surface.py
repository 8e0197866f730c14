"""CDC operator surface (SURVEY.md §2 #1-#19), exercised on ``events``.

The synthetic ``events`` table is the driver's stand-in for the
reference's ``emp_cdc`` change-log (FIXTURES.md §7): key = ``user_id``,
event time = ``ts``, action analog = ``event_type`` (with ``'error'``
playing the role of ``'delete'``). The real employee-schema pipeline —
including the golden 7-event workload — is tested in
``tests/test_cdc_golden.py``; these registry entries prove the same
operators against the oracle at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc_kafka_project_spark.catalog import load_table
from cdc_kafka_project_spark.functions import REVENUE_DEC_SQL, revenue_dec
from cdc_kafka_project_spark.operators import cdc
from cdc_kafka_project_spark.registry import query
from cdc_kafka_project_spark.streaming import kafka_io

#: event-time rendering shared by Spark (date_format) and DuckDB (strftime)
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"

WATERMARK = "2024-01-15 00:00:00"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@query(
    "cdc_incremental_scan",
    oracle=f"""
    SELECT event_id, user_id, event_type, value,
           strftime(ts, '{TS_FMT_DUCK}') AS event_time
    FROM events
    WHERE ts > TIMESTAMP '{WATERMARK}'
    """,
)
def cdc_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark scan + projection (ops #1-#3; producer.py:30-35).

    Filter and column list push down to the parquet scan (PushedFilters
    in the plan). The reference's ORDER BY (op #4) is dropped by design:
    per-key order is recovered where it matters (see cdc_latest_state).
    """
    df = cdc.incremental_scan(_events(spark, sf_dir), WATERMARK, ts_col="ts")
    return df.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_format("ts", TS_FMT_SPARK).alias("event_time"),
    )


@query(
    "cdc_latest_state",
    oracle=f"""
    SELECT user_id, last_action, last_value, last_event_time FROM (
        SELECT user_id,
               event_type AS last_action,
               value AS last_value,
               strftime(ts, '{TS_FMT_DUCK}') AS last_event_time,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins per key (op #19) — the core CDC semantic.

    Window dedup with an explicit tiebreaker (event_id = log position),
    replacing the reference's single-partition total order
    (producer.py:34 + consumer.py:26-34). One hash shuffle on the key.
    """
    ev = _events(spark, sf_dir)
    latest = cdc.latest_per_key(ev, ["user_id"], ["ts", "event_id"])
    return latest.select(
        "user_id",
        F.col("event_type").alias("last_action"),
        F.col("value").alias("last_value"),
        F.date_format("ts", TS_FMT_SPARK).alias("last_event_time"),
    )


@query(
    "cdc_replica",
    oracle="""
    SELECT user_id, last_action, last_value FROM (
        SELECT user_id,
               lower(event_type) AS last_action,
               value AS last_value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1 AND last_action <> 'error'
    """,
)
def cdc_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC apply: change-log -> replica (ops #16-#19; consumer.py:70-91).

    'error' plays 'delete': a key whose final event is an error drops
    out of the replica, exactly as a delete removes an emp_id. This is
    the flagship ``entry()`` query.
    """
    replica = cdc.apply_changes(
        _events(spark, sf_dir),
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        action_col="event_type",
        delete_action="error",
    )
    return replica.select(
        "user_id",
        F.col("event_type").alias("last_action"),
        F.col("value").alias("last_value"),
    )


#: validation analog of consumer.py:47-48's 3-term disjunction:
#: year(ts) <= 2023  OR  value <= 5.0  OR  user_id < 0   => invalid
_INVALID_SQL = "(year(ts) <= 2023 OR value <= 5.0 OR user_id < 0)"


def _invalid_col():
    return (
        (F.coalesce(F.year("ts"), F.lit(0)) <= 2023)
        | (F.col("value") <= 5.0)
        | (F.col("user_id") < 0)
    )


@query(
    "cdc_validate_valid",
    oracle=f"""
    SELECT event_id, user_id, event_type, value
    FROM events WHERE NOT {_INVALID_SQL}
    """,
)
def cdc_validate_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation gate, main branch (op #14; consumer.py:48)."""
    valid, _dlq = cdc.validate_split(_events(spark, sf_dir), _invalid_col())
    return valid.select("event_id", "user_id", "event_type", "value")


@query(
    "cdc_validate_dlq",
    oracle=f"""
    SELECT event_id, user_id, event_type, value
    FROM events WHERE {_INVALID_SQL}
    """,
)
def cdc_validate_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter branch (op #15; consumer.py:50-58): same scan, negated
    predicate; original payload preserved."""
    _valid, dlq = cdc.validate_split(_events(spark, sf_dir), _invalid_col())
    return dlq.select("event_id", "user_id", "event_type", "value")


@query(
    "cdc_json_decode",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
)
def cdc_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON deserialize + typed predicate (op #11; consumer.py:42-43).

    get_json_object is evaluated JVM-side; the filter applies post-parse
    (no pushdown through JSON, same as any engine)."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_id", k.alias("k")).filter(F.col("k") >= 50)


@query(
    "cdc_json_encode",
    oracle="""
    SELECT event_id,
           to_json(struct_pack(event_id := event_id, user_id := user_id,
                               event_type := event_type)) AS payload
    FROM events
    """,
)
def cdc_json_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON serialize (op #7; employee.py:19-20, producer.py:62-65) —
    to_json(struct(...)), the keyed-sink wire format."""
    ev = _events(spark, sf_dir)
    payload = F.to_json(F.struct("event_id", "user_id", "event_type"))
    return ev.select("event_id", payload.alias("payload"))


@query(
    "cdc_merge_upsert",
    oracle="""
    SELECT user_id, last_action, last_value FROM (
        SELECT user_id,
               lower(event_type) AS last_action,
               value AS last_value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1 AND last_action <> 'error'
    """,
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE (ops #16-#18 as micro-batch maintenance).

    Builds the replica up to the watermark, then merges the remaining
    changes via merge_upsert (anti-join + union, broadcast on the
    changed-key set). The oracle is the full-log apply — proving
    incremental == recompute, the invariant MERGE must preserve.
    """
    from cdc_kafka_project_spark import cache

    ev = _events(spark, sf_dir)
    old = ev.filter(F.col("ts") <= F.lit(WATERMARK))
    # the arriving micro-batch is referenced twice inside MERGE (the
    # changed-key set for the anti-join + the change application);
    # checkpoint it — a real incremental maintainer holds the bounded
    # delta materialized anyway — so events is scanned once per side
    # of the watermark (2 executed scans, was 3)
    new = cache.scoped_localcheckpoint(
        ev.filter(F.col("ts") > F.lit(WATERMARK))
    )
    base = cdc.apply_changes(
        old, ["user_id"], ["ts", "event_id"], "event_type", "error"
    )
    merged = cdc.merge_upsert(
        base, new, ["user_id"], ["ts", "event_id"], "event_type"
    )
    # merge_upsert's apply uses the default delete action; re-apply the
    # 'error'-as-delete filter uniformly over the merged state.
    merged = merged.filter(F.lower("event_type") != "error")
    return merged.select(
        "user_id",
        F.lower("event_type").alias("last_action"),
        F.col("value").alias("last_value"),
    )


@query(
    "cdc_running_totals",
    oracle="""
    SELECT user_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS total_value,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def cdc_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project-1 running aggregation (op #26; pdf p.4-6).

    The reference accumulates per message with ON CONFLICT DO UPDATE;
    here it's a groupBy with map-side partial aggregation — the
    streaming twin (update-mode agg) is tested in tests/test_streaming.py.
    Decimal-exact sum so partition count never changes the answer.
    """
    from cdc_kafka_project_spark.functions import dsum

    ev = _events(spark, sf_dir)
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            dsum("value").alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "cdc_snapshot_diff",
    oracle="""
    WITH old_snap AS (
        SELECT c_custkey, c_name, c_acctbal FROM customer
    ),
    new_snap AS (
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 10.0
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 97 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, c_name, c_acctbal
        FROM customer WHERE c_custkey % 101 = 0
    )
    SELECT COALESCE(n.c_custkey, o.c_custkey) AS c_custkey,
           CASE WHEN n.c_custkey IS NOT NULL THEN n.c_name
                ELSE o.c_name END AS c_name,
           CASE WHEN n.c_custkey IS NOT NULL THEN n.c_acctbal
                ELSE o.c_acctbal END AS c_acctbal,
           CASE WHEN o.c_custkey IS NULL THEN 'insert'
                WHEN n.c_custkey IS NULL THEN 'delete'
                WHEN n.c_name IS DISTINCT FROM o.c_name
                  OR n.c_acctbal IS DISTINCT FROM o.c_acctbal THEN 'update'
           END AS action
    FROM old_snap o FULL OUTER JOIN new_snap n ON o.c_custkey = n.c_custkey
    WHERE (CASE WHEN o.c_custkey IS NULL THEN 'insert'
                WHEN n.c_custkey IS NULL THEN 'delete'
                WHEN n.c_name IS DISTINCT FROM o.c_name
                  OR n.c_acctbal IS DISTINCT FROM o.c_acctbal THEN 'update'
           END) IS NOT NULL
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change capture without a trigger (op #21 in-engine): diff a
    deterministic 'new' snapshot of customer (every 97th key deleted,
    every 5th balance bumped, every 101st key re-inserted shifted)
    against the original — one full outer join on the key emits
    exactly the trigger's insert/update/delete events.

    Scan discipline (r11): the FIXTURE derives both snapshots from the
    one customer table (a real diff reads two distinct snapshot
    tables), so the 3-column snapshot input is checkpointed once and
    both sides derive from it — 1 executed scan of customer, was 3."""
    from cdc_kafka_project_spark import cache
    from cdc_kafka_project_spark.operators.cdc import snapshot_diff

    cu = cache.scoped_localcheckpoint(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_acctbal"
        )
    )
    new = (
        cu.filter(F.col("c_custkey") % 97 != 0)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 10.0
            ).otherwise(F.col("c_acctbal")),
        )
        .unionByName(
            cu.filter(F.col("c_custkey") % 101 == 0).withColumn(
                "c_custkey", F.col("c_custkey") + 1000000
            )
        )
    )
    return snapshot_diff(cu, new, key_cols=["c_custkey"])


@query(
    "cdc_scd2_history",
    oracle=f"""
    SELECT user_id, event_id,
           lower(event_type) AS action,
           value,
           strftime(ts, '{TS_FMT_DUCK}') AS valid_from,
           strftime(lead(ts) OVER w, '{TS_FMT_DUCK}') AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history from the change log: one version
    row per change event with [valid_from, valid_to) intervals and an
    is_current flag — the auditable alternative to the reference's
    in-place UPDATE (consumer.py:80-88), which destroys history.
    One keyed shuffle + per-key window (see operators.cdc.scd2_history).
    """
    ev = cdc.normalize_actions(_events(spark, sf_dir), "event_type")
    hist = cdc.scd2_history(
        ev, key_cols=["user_id"], order_cols=["ts", "event_id"], ts_col="ts"
    )
    return hist.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("action"),
        "value",
        F.date_format("ts", TS_FMT_SPARK).alias("valid_from"),
        F.date_format("valid_to_ts", TS_FMT_SPARK).alias("valid_to"),
        "is_current",
    )


@query(
    "cdc_incremental_agg",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (Project 1's running total,
    pdf p.4-6, generalized): the materialized per-user aggregate of
    history (ts <= watermark) is REFRESHED by merging the aggregate of
    only the new change batch (ts > watermark) — never by rescanning
    history. The oracle is the full recompute; decimal partials make
    merged-vs-recomputed bit-identical. At scale the delta side is
    |changed keys| and broadcasts (operators.cdc.merge_agg_states)."""
    ev = _events(spark, sf_dir)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("total_value"),
        )

    base = agg(ev.filter(F.col("ts") <= F.lit(WATERMARK)))
    delta = agg(cdc.incremental_scan(ev, WATERMARK, ts_col="ts"))
    merged = cdc.merge_agg_states(
        base, delta, key_cols=["user_id"], sum_cols=["n_events", "total_value"]
    )
    return merged.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
    )


AS_OF = "2024-01-16 12:00:00"  # mid-history: the as-of state must differ
                               # from the current replica or the query
                               # proves nothing


@query(
    "cdc_time_travel",
    oracle=f"""
    SELECT user_id, last_action, last_value FROM (
        SELECT user_id,
               lower(event_type) AS last_action,
               value AS last_value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts <= TIMESTAMP '{AS_OF}'
    ) WHERE rn = 1 AND last_action <> 'error'
    """,
)
def cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time recovery: replica state AS OF a past timestamp,
    reconstructed from the append-only change log (the time-travel
    read Delta/Iceberg advertise, native here because the log IS the
    table). Same one-shuffle apply as cdc_replica over the
    time-bounded prefix; the ts predicate pushes to the scan, so old
    snapshots get cheaper as the as-of point recedes (partition/row-
    group pruning on ts at scale)."""
    ev = _events(spark, sf_dir).filter(F.col("ts") <= F.lit(AS_OF))
    replica = cdc.apply_changes(
        ev,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        action_col="event_type",
        delete_action="error",
    )
    return replica.select(
        "user_id",
        F.col("event_type").alias("last_action"),
        F.col("value").alias("last_value"),
    )


@query(
    "event_props_variant",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
    GROUP BY event_type
    """,
)
def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VariantType: parse the
    JSON once into the binary Variant encoding, then every field
    access is a typed variant_get — the engine's answer to
    get_json_object re-parsing the string per extraction (ops #7/#11
    modernized). At 100 TB the parse happens once per row at ingest
    (or is already Variant in the lake); downstream predicates and
    projections touch the binary encoding only.

    The oracle reaches the same numbers through DuckDB's JSON path —
    two engines, two semi-structured stacks, one answer."""
    ev = _events(spark, sf_dir)
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") % 2 == 0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


@query(
    "cdc_debezium_roundtrip",
    oracle="""
    WITH tagged AS (
        SELECT event_id, user_id, event_type, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    ops AS (
        SELECT user_id, event_id,
               CASE WHEN event_type = 'error' THEN 'd'
                    WHEN rn = 1 THEN 'c' ELSE 'u' END AS op,
               event_type, value,
               CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
        FROM tagged
    ),
    latest AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts_ms DESC, event_id DESC) AS rn2
        FROM ops
    )
    SELECT user_id, op AS last_op, event_type AS last_type,
           value AS last_value, ts_ms AS last_ts_ms
    FROM latest WHERE rn2 = 1 AND op <> 'd'
    """,
)
def cdc_debezium_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium-envelope encode -> decode -> apply, as one plan.

    The reference ships its own ad-hoc JSON row format
    (employee.py:19-20, producer.py:62-65); the industry-standard CDC
    wire format is the Debezium envelope — ``{before, after, op,
    ts_ms, source}`` with op in {c,u,d}, before=null on create,
    after=null on delete. This query synthesizes the envelope from the
    change-log (lag() supplies the before-image, first-event rank
    supplies 'c'), encodes it with ``kafka_io.encode_debezium``, decodes
    it back with ``kafka_io.decode_debezium`` (the streaming codec), and
    applies latest-per-key to the DECODED rows.

    The oracle recomputes the replica straight from the change-log —
    hash equality therefore proves the envelope codec is lossless
    (keys, op codes, double values, and millisecond timestamps all
    survive the string round trip). One key-partitioned window +
    one latest-per-key shuffle; the codec itself is map-only codegen.
    """
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tagged = ev.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("value").over(w).alias("prev_value"),
    )
    op = (
        F.when(F.col("event_type") == "error", "d")
        .when(F.col("rn") == 1, "c")
        .otherwise("u")
    )
    before = F.when(
        F.col("rn") > 1,
        F.struct(
            F.col("user_id"),
            F.col("prev_type").alias("event_type"),
            F.col("prev_value").alias("value"),
        ),
    )
    after = F.when(op != "d", F.struct("user_id", "event_type", "value"))
    changes = tagged.select(
        "user_id",
        "event_id",
        before.alias("before"),
        after.alias("after"),
        op.alias("op"),
        F.unix_millis("ts").alias("ts_ms"),
    )
    wire = kafka_io.encode_debezium(
        changes, "user_id", table="events", seq_col="event_id"
    )
    row_schema = ev.select("user_id", "event_type", "value").schema
    decoded = kafka_io.decode_debezium(wire, row_schema).select(
        F.col("row.user_id").alias("user_id"),
        "op",
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
        "ts_ms",
        "seq",
    )
    replica = cdc.latest_per_key(decoded, ["user_id"], ["ts_ms", "seq"])
    return replica.filter(F.col("op") != "d").select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.col("ts_ms").alias("last_ts_ms"),
    )


#: last-refresh watermark for the simulated MV — a LITERAL, exactly as
#: a real refresh job reads it from checkpoint state. A literal (unlike
#: a data-derived cutoff) reaches the parquet scan as a pushed filter,
#: so the delta branch's I/O is bounded by the fresh tranche.
IVM_WATERMARK = "2001-10-01 00:00:00"


@query(
    "ivm_join_delta_revenue",
    oracle=f"""
    SELECT l_orderkey AS orderkey, o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(CAST({REVENUE_DEC_SQL}
                         AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    """,
)
def ivm_join_delta_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of an AGG-OVER-JOIN materialized view
    (per-order line count + revenue with order priority): the join
    sibling of `cdc_incremental_agg`'s delta rule. For an insert-only
    delta on the fact side, ΔMV = agg(Δlineitem) ⋈ orders, merged into
    the stored MV by exact-decimal partial-state addition — history is
    never rejoined or rescanned.

    Here the "stored" MV is simulated by splitting lineitem at the
    literal refresh watermark: the old tranche plays the persisted MV,
    the recent tranche the arriving delta. The oracle is the full
    recompute, so the driver hash proves merge(MV, ΔMV) ≡ recompute
    bit-for-bit (decimal partials are associative). At scale the delta
    branch shuffles |Δ| rows and its orders probe prunes to Δ's key
    range — the full recompute shuffles the 100 TB fact every refresh.
    r16: the MV state merges as bare fact partials and the priority
    dimension attaches ONCE to the merged keys (identical rows —
    priority is functionally dependent on orderkey), halving the
    orders scans/builds.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), F.col("o_orderpriority").alias("priority")
    )
    li2 = li
    rev = revenue_dec().cast("decimal(25,6)")

    def part_agg(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev).alias("rev_dec"),
        )

    is_delta = F.col("l_shipdate") >= F.lit(IVM_WATERMARK).cast("timestamp")
    mv = part_agg(li2.filter(~is_delta)).alias("mv")
    delta = part_agg(li2.filter(is_delta)).alias("d")
    merged = mv.join(
        delta, F.col("mv.orderkey") == F.col("d.orderkey"), "full_outer"
    )
    zero = F.lit(0).cast("decimal(25,6)")
    # dimension lookup ONCE, after the partial-state merge (r16; guide
    # §2.4): the r15 form joined orders into BOTH branches — two orders
    # scans, two broadcast builds — only for the merge to coalesce the
    # identical priority values back together. Merging the fact
    # partials first and attaching priority to the merged keys is the
    # same rows bit-for-bit (priority is functionally dependent on
    # orderkey; both forms inner-join the same key set) with one
    # orders scan and one build. Plan: 4 scans + 3 joins -> 3 scans +
    # 2 joins.
    state = merged.select(
        F.coalesce(F.col("mv.orderkey"), F.col("d.orderkey")).alias("orderkey"),
        (
            F.coalesce(F.col("mv.n_lines"), F.lit(0))
            + F.coalesce(F.col("d.n_lines"), F.lit(0))
        ).cast("long").alias("n_lines"),
        (
            F.coalesce(F.col("mv.rev_dec"), zero)
            + F.coalesce(F.col("d.rev_dec"), zero)
        ).cast("double").alias("revenue"),
    )
    return state.join(
        orders, state.orderkey == orders.o_orderkey
    ).select("orderkey", "priority", "n_lines", "revenue")
