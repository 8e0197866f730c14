"""Streaming pipeline tests: file-source micro-batches drive the same
operators the Kafka path uses (unified model), bounded with
availableNow triggers — the reference's short-burst runs."""

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from cdc_kafka_project_spark.operators import cdc
from cdc_kafka_project_spark.schemas import EMP_CDC_SCHEMA, EMPLOYEE_SALARIES_SCHEMA
from cdc_kafka_project_spark.streaming import kafka_io
from cdc_kafka_project_spark.streaming.pipeline import (
    CdcFileStreamPipeline,
    streaming_windowed_counts,
)
from cdc_kafka_project_spark.streaming.stateful import (
    latest_totals,
    run_stateful_totals,
    sized_state_session,
    stateful_shuffle_width,
)
from tests.test_cdc_golden import golden_rows


@pytest.fixture()
def tmpdirs(tmp_path):
    src = tmp_path / "src"
    work = tmp_path / "work"
    src.mkdir()
    return str(src), str(work)


def _pipeline(spark, src, work):
    return CdcFileStreamPipeline(
        spark,
        source_dir=src,
        work_dir=work,
        schema=EMP_CDC_SCHEMA,
        invalid=cdc.employee_invalid_predicate(),
    )


def test_streaming_cdc_golden_workload(spark, tmpdirs):
    src, work = tmpdirs
    spark.createDataFrame(golden_rows(), EMP_CDC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    p = _pipeline(spark, src, work)
    p.run_available_now()

    assert {r.emp_id for r in p.dlq().collect()} == {3, 4, -100}
    snap = p.snapshot().collect()
    assert len(snap) == 1 and snap[0].emp_id == 2  # Emma


def test_streaming_incremental_batches_resume_from_checkpoint(spark, tmpdirs):
    """Two short-burst runs over a growing source directory: the second
    run must process only the new files (checkpointed offsets) and the
    replica view must reflect the merged state."""
    src, work = tmpdirs
    rows = golden_rows()
    first, second = rows[:5], rows[5:]  # inserts | update+delete of Alice

    spark.createDataFrame(first, EMP_CDC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    p = _pipeline(spark, src, work)
    p.run_available_now()
    snap1 = {r.emp_id: r.salary for r in p.snapshot().collect()}
    assert snap1 == {1: 80000, 2: 72000}  # Alice + Emma

    spark.createDataFrame(second, EMP_CDC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    p2 = _pipeline(spark, src, work)
    p2.run_available_now()
    snap2 = p2.snapshot().collect()
    assert len(snap2) == 1 and snap2[0].emp_id == 2

    # curated log holds exactly the 4 valid events (no reprocessing)
    assert p2.curated_log().count() == 4


def _salaries_stream(spark, src, **options):
    reader = spark.readStream.schema(EMPLOYEE_SALARIES_SCHEMA).options(**options)
    return reader.parquet(src)


def test_stateful_running_totals_update_mode(spark, tmp_path):
    """Project-1 running aggregation (pdf p.4-6): per-department totals
    over floored salaries, golden-totals-style. NULL amounts add
    nothing (an all-NULL group totals 0) and negative amounts floor
    toward -inf. Update mode: each epoch emits only the groups its
    input touched."""
    src = tmp_path / "sal"
    src.mkdir()
    from decimal import Decimal

    d = dt.date(2015, 1, 1)
    files = [
        [
            ("ECC", "d1", "t", d, Decimal("100.75")),
            ("CIT", "d1", "t", d, Decimal("200.25")),
            ("NEG", "d5", "t", d, Decimal("-10.25")),
        ],
        [
            ("ECC", "d2", "t", d, Decimal("49.50")),
            ("ECC", "d2", "t", d, None),
            ("NUL", "d4", "t", d, None),
            ("NUL", "d4", "t", d, None),
        ],
        [("NEG", "d5", "t", d, Decimal("3.50"))],
    ]
    for rows in files:
        spark.createDataFrame(rows, EMPLOYEE_SALARIES_SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(str(src))
    out = str(tmp_path / "totals")
    run_stateful_totals(
        _salaries_stream(spark, str(src), maxFilesPerTrigger=1),
        str(tmp_path / "cp"),
        out,
    ).awaitTermination()
    totals = latest_totals(spark, out)
    assert totals.dtypes == [("department", "string"), ("total_salary", "bigint")]
    got = {r.department: r.total_salary for r in totals.collect()}
    # floor(100.75)+floor(49.50); floor(200.25); floor(-10.25)+floor(3.50)
    assert got == {"ECC": 149, "CIT": 200, "NUL": 0, "NEG": -8}

    # one epoch per file; each emits the running totals of the groups
    # that file touched, and no others
    per_epoch: dict[int, dict] = {}
    for r in spark.read.parquet(out).collect():
        per_epoch.setdefault(r["__epoch"], {})[r.department] = r.total_salary
    assert [per_epoch[e] for e in sorted(per_epoch)] == [
        {"ECC": 100, "CIT": 200, "NEG": -11},
        {"ECC": 149, "NUL": 0},
        {"NEG": -8},
    ]


def test_streaming_windowed_counts_with_watermark(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    rows = golden_rows()
    spark.createDataFrame(rows, EMP_CDC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    q = streaming_windowed_counts(
        spark,
        str(src),
        EMP_CDC_SCHEMA,
        str(tmp_path / "cp2"),
        window="1 hour",
        query_name="wc_test",
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM wc_test").collect()
    # all 7 events fall in the same hour window (12:00-13:00)
    assert len(got) == 1 and got[0].n == 7


def test_kafka_envelope_roundtrip(spark):
    """encode -> decode over static frames (the Kafka-facing transform
    layer; producer.py:62-71 / consumer.py:42-43)."""
    df = spark.createDataFrame(golden_rows(), EMP_CDC_SCHEMA)
    wire = kafka_io.encode_envelope(
        df.withColumn("dob", F.col("dob").cast("string")).withColumn(
            "last_updated_at", F.col("last_updated_at").cast("string")
        ),
        key_col="emp_id",
    )
    assert wire.columns == ["key", "value"]
    # wire format stringifies dates/timestamps (producer.py:56,63)
    from pyspark.sql import types as T

    stringly = T.StructType(
        [
            T.StructField(
                f.name,
                T.StringType() if f.dataType.typeName() in ("date", "timestamp") else f.dataType,
            )
            for f in EMP_CDC_SCHEMA.fields
        ]
    )
    decoded = kafka_io.decode_envelope(
        wire.withColumn("value", F.col("value").cast("binary")),
        value_schema=stringly,
    ).select("key", "payload.*")
    back = decoded.collect()
    assert len(back) == len(golden_rows())
    keys = {r.key for r in back}
    assert keys == {str(r[0]) for r in golden_rows()}


def test_decode_envelope_routes_corrupt_payloads_to_null(spark):
    """Malformed JSON -> NULL payload (DLQ-routable), never a crash —
    deliberate upgrade over consumer.py:95-102's silent swallow."""
    from pyspark.sql import types as T

    raw = spark.createDataFrame(
        [("1", bytearray(b'{"emp_id": 1}')), ("2", bytearray(b"not json"))],
        "key string, value binary",
    )
    schema = T.StructType([T.StructField("emp_id", T.LongType())])
    out = kafka_io.decode_envelope(raw, schema)
    got = {r.key: r.payload for r in out.collect()}
    assert got["1"] is not None and got["1"].emp_id == 1
    assert got["2"] is None


def test_stateful_running_totals_survive_restart(spark, tmp_path):
    """Built-in streaming aggregation: state round-trips through the
    checkpoint across two bounded runs — the durable upgrade over the
    reference's in-memory watermark (producer.py:15). The operator runs
    in the JVM state store: its plan holds no Python state function."""
    import decimal

    src = tmp_path / "sal2"
    src.mkdir()
    d = dt.date(2015, 1, 1)
    cp = str(tmp_path / "cp_state")
    out = str(tmp_path / "totals_out")

    first = [
        ("ECC", "d1", "t", d, decimal.Decimal("100.75")),
        ("CIT", "d1", "t", d, decimal.Decimal("200.25")),
        ("NUL", "d4", "t", d, None),
        ("NEG", "d5", "t", d, decimal.Decimal("-10.25")),
    ]
    spark.createDataFrame(first, EMPLOYEE_SALARIES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    q = run_stateful_totals(_salaries_stream(spark, str(src)), cp, out)
    q.awaitTermination()
    plan = q._jsq.explainInternal(True)  # the executed consumer plan
    assert "StateStoreSave" in plan
    for python_node in ("PandasWithState", "PythonUDF", "EvalPython"):
        assert python_node not in plan, plan
    got1 = {r.department: r.total_salary for r in latest_totals(spark, out).collect()}
    assert got1 == {"ECC": 100, "CIT": 200, "NUL": 0, "NEG": -11}

    # second batch lands; a NEW bounded run must resume prior state
    second = [
        ("ECC", "d2", "t", d, decimal.Decimal("49.50")),
        ("EMS", "d3", "t", d, decimal.Decimal("10.99")),
        ("NUL", "d4", "t", d, None),
        ("NEG", "d5", "t", d, decimal.Decimal("3.50")),
    ]
    spark.createDataFrame(second, EMPLOYEE_SALARIES_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_stateful_totals(_salaries_stream(spark, str(src)), cp, out).awaitTermination()
    got2 = {r.department: r.total_salary for r in latest_totals(spark, out).collect()}
    # accumulated across runs: ECC = 100 + 49; CIT untouched in run 2
    # but still current from run 1's emission
    assert got2 == {"ECC": 149, "CIT": 200, "EMS": 10, "NUL": 0, "NEG": -8}


def test_sized_state_session_caps_state_partitions(spark, tmp_path):
    """r16: stateful_shuffle_width caps state partitioning at the key
    domain (a per-group operator can never use more parallelism than
    groups; empty state partitions still pay per-batch store
    lifecycle), and sized_state_session applies it WITHOUT touching the
    caller's session conf. The checkpoint's state dir layout is the
    ground truth for how many stores the stream actually committed."""
    import decimal
    import os

    base_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert stateful_shuffle_width(spark, 3) == min(base_width, 3)
    assert stateful_shuffle_width(spark, 10**6) == base_width

    sess = sized_state_session(spark, 3)
    assert int(sess.conf.get("spark.sql.shuffle.partitions")) == min(
        base_width, 3
    )
    # caller's session untouched
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == base_width

    src = tmp_path / "sal_sized"
    src.mkdir()
    d = dt.date(2015, 1, 1)
    cp = str(tmp_path / "cp_sized")
    out = str(tmp_path / "totals_sized")
    rows = [
        ("ECC", "d1", "t", d, decimal.Decimal("100.75")),
        ("CIT", "d1", "t", d, decimal.Decimal("200.25")),
        ("EMS", "d3", "t", d, decimal.Decimal("10.99")),
    ]
    spark.createDataFrame(rows, EMPLOYEE_SALARIES_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(str(src))
    run_stateful_totals(_salaries_stream(sess, str(src)), cp, out).awaitTermination()
    got = {
        r.department: r.total_salary
        for r in latest_totals(spark, out).collect()
    }
    assert got == {"ECC": 100, "CIT": 200, "EMS": 10}
    # the state store committed exactly the capped partition count
    state_dirs = os.listdir(os.path.join(cp, "state", "0"))
    n_parts = len([x for x in state_dirs if x.isdigit()])
    assert n_parts == min(base_width, 3), state_dirs


def test_streaming_scd2_view_equals_batch_over_merged_log(spark, tmpdirs):
    """SCD2-over-the-curated-log after two streaming bursts must equal
    the batch scd2_history over the full valid change-log: version
    chains survive the batch boundary (an update arriving in burst 2
    closes the version opened in burst 1) with no history rewrite."""
    from cdc_kafka_project_spark.operators.cdc import scd2_history

    src, work = tmpdirs
    rows = golden_rows()
    first, second = rows[:5], rows[5:]

    spark.createDataFrame(first, EMP_CDC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    p = _pipeline(spark, src, work)
    p.run_available_now()
    spark.createDataFrame(second, EMP_CDC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    p2 = _pipeline(spark, src, work)
    p2.run_available_now()

    def key(df):
        return sorted(
            (r.emp_id, r.seq, str(r.valid_to_ts), r.is_current)
            for r in df.collect()
        )

    got = key(p2.scd2_view())
    # batch twin: one-shot validate + scd2 over the SAME raw workload
    from cdc_kafka_project_spark.operators.cdc import (
        employee_invalid_predicate,
        validate_split,
    )

    valid_log, _ = validate_split(
        spark.createDataFrame(rows, EMP_CDC_SCHEMA), employee_invalid_predicate()
    )
    want = key(
        scd2_history(valid_log, p2.key_cols, p2.order_cols, "last_updated_at")
    )
    assert got == want and got
    # Alice (emp 1): insert then update then delete — the burst-2
    # events must CLOSE the versions opened in burst 1 (cross-batch
    # version chaining), leaving exactly one open row: the delete
    # tombstone (raw history keeps it; live views filter the action)
    alice = sorted(
        (r for r in p2.scd2_view().collect() if r.emp_id == 1),
        key=lambda r: r.seq,
    )
    assert len(alice) >= 2
    assert all(r.valid_to_ts is not None for r in alice[:-1])
    assert alice[-1].is_current and alice[-1].action == "delete"


def test_streaming_replayed_batch_is_exactly_once(spark, tmpdirs):
    """A crash after the sink wrote a micro-batch but before the
    checkpoint committed it: the rerun replays that batch, and the file
    sink, which has the batch id in its metadata log, appends nothing.
    The DLQ keeps its 3 rows (an at-least-once append doubles them)."""
    import os

    src, work = tmpdirs
    spark.createDataFrame(golden_rows(), EMP_CDC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _pipeline(spark, src, work).run_available_now()

    commits = os.path.join(work, "checkpoint", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))

    p = _pipeline(spark, src, work)
    p.run_available_now()
    assert sorted(r.emp_id for r in p.dlq().collect()) == [-100, 3, 4]
    assert [r.emp_id for r in p.snapshot().collect()] == [2]
    assert p.curated_log().count() == 4


def _emp(emp_id, salary, action, minute, seq, dob=dt.date(2012, 1, 1)):
    return (
        emp_id, f"F{emp_id}", f"L{emp_id}", dob, "City", salary, action,
        dt.datetime(2024, 1, 1, 12, minute, 0), seq,
    )


def _append(spark, src, rows):
    spark.createDataFrame(rows, EMP_CDC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_merge_on_read_equals_batch_twins(spark, tmpdirs):
    """Five bursts, compacting after bursts 1 and 3 only: every view
    over base + unfolded files equals its batch twin over the full raw
    log, whether or not the last burst was folded."""
    src, work = tmpdirs
    bursts = [
        # 6 inserts + one NULL-predicate row (salary NULL -> DLQ)
        [_emp(i, 1000 + i, "insert", i, i) for i in range(1, 7)]
        + [_emp(7, None, "insert", 7, 7)],
        # 2 updates (+ an invalid one): 3 < base of 6, not folded
        [_emp(1, 2000, "update", 10, 8), _emp(2, 2100, "UPDATE", 11, 9),
         _emp(3, 50, "update", 12, 10)],
        # 4 more rows: 3 + 4 >= 6, folded
        [_emp(4, 1004, "delete", 13, 11), _emp(8, 1800, "insert", 14, 12),
         _emp(1, 2200, "update", 15, 13), _emp(-5, 900, "insert", 16, 14)],
        # a delete and a re-insert of a deleted key: not folded
        [_emp(2, 2100, "delete", 17, 15), _emp(4, 1400, "insert", 18, 16)],
        # a late update that predates the base row of key 1: not folded
        [_emp(1, 9999, "update", 1, 17)],
    ]
    p = _pipeline(spark, src, work)
    versions = []
    for rows in bursts:
        _append(spark, src, rows)
        p.run_available_now()
        versions.append(p._pointer()["version"])
    assert versions == [1, 1, 2, 2, 2]

    raw = spark.createDataFrame([r for b in bursts for r in b], EMP_CDC_SCHEMA)
    valid, dlq = cdc.validate_split(raw, cdc.employee_invalid_predicate())
    assert _rows(p.curated_log()) == _rows(valid)
    assert _rows(p.dlq()) == _rows(dlq)
    assert {r.emp_id for r in p.dlq().collect()} == {7, 3, -5}
    assert _rows(p.snapshot()) == _rows(
        cdc.apply_changes(valid, p.key_cols, p.order_cols)
    )
    assert _rows(p.scd2_view()) == _rows(
        cdc.scd2_history(valid, p.key_cols, p.order_cols, "last_updated_at")
    )
    assert {r.emp_id: r.salary for r in p.snapshot().collect()} == {
        1: 2200, 3: 1003, 4: 1400, 5: 1005, 6: 1006, 8: 1800,
    }


def test_streaming_late_event_and_delete_after_compaction(spark, tmpdirs):
    """The base keeps each key's latest row, tombstones included: a late
    event older than a key's base row loses to it, unfolded or folded,
    and a late insert cannot resurrect a key whose base row is a
    delete."""
    import os

    src, work = tmpdirs
    p = _pipeline(spark, src, work)
    _append(spark, src, [_emp(i, 1000 + i, "insert", 30, i) for i in range(10, 14)])
    p.run_available_now()
    ptr = p._pointer()
    assert (ptr["version"], ptr["rows"]) == (1, 4)

    # late update of key 10 (12:05 < its base row's 12:30); delete of 11
    _append(spark, src, [_emp(10, 9999, "update", 5, 20), _emp(11, 1011, "delete", 40, 21)])
    p.run_available_now()
    assert p._pointer()["version"] == 1  # 2 < 4: read as delta
    assert {r.emp_id: r.salary for r in p.snapshot().collect()} == {
        10: 1010, 12: 1012, 13: 1013,
    }

    # late insert of the deleted key 11 (12:35 < the delete's 12:40)
    _append(spark, src, [_emp(11, 7777, "insert", 35, 22), _emp(12, 1212, "update", 45, 23)])
    p.run_available_now()
    ptr = p._pointer()
    assert ptr["version"] == 2 and ptr["rows"] == 4  # tombstone of 11 kept
    assert sorted(os.listdir(os.path.join(work, "base"))) == ["2", "CURRENT"]
    assert {r.emp_id: r.salary for r in p.snapshot().collect()} == {
        10: 1010, 12: 1212, 13: 1013,
    }


def test_streaming_unpublished_base_leaves_snapshot_unchanged(
    spark, tmpdirs, monkeypatch
):
    """A crash between writing base version n+1 and swapping the
    pointer: the old base and every unfolded file are still what the
    snapshot reads, so the answer is the same; the next compaction
    overwrites the orphan version and deletes the superseded one."""
    import os

    src, work = tmpdirs
    bursts = [
        [_emp(i, 1000 + i, "insert", i, i) for i in range(1, 4)],
        [_emp(1, 2001, "update", 10, 4), _emp(2, 1002, "delete", 11, 5),
         _emp(4, 1004, "insert", 12, 6)],
    ]
    p = _pipeline(spark, src, work)
    _append(spark, src, bursts[0])
    p.run_available_now()

    def crash(self, pointer):
        raise RuntimeError("crash before the pointer swap")

    with monkeypatch.context() as m:
        m.setattr(CdcFileStreamPipeline, "_publish", crash)
        _append(spark, src, bursts[1])
        with pytest.raises(RuntimeError, match="pointer swap"):
            p.run_available_now()
    base = os.path.join(work, "base")
    assert sorted(os.listdir(base)) == ["1", "2", "CURRENT"]
    assert p._pointer()["version"] == 1

    want = {1: 2001, 3: 1003, 4: 1004}
    p2 = _pipeline(spark, src, work)
    assert {r.emp_id: r.salary for r in p2.snapshot().collect()} == want

    _append(spark, src, [_emp(5, 1005, "insert", 13, 7), _emp(6, 1006, "insert", 14, 8),
                         _emp(7, 1007, "insert", 15, 9)])
    p2.run_available_now()
    assert p2._pointer()["version"] == 2
    assert sorted(os.listdir(base)) == ["2", "CURRENT"]
    assert {r.emp_id: r.salary for r in p2.snapshot().collect()} == {
        **want, 5: 1005, 6: 1006, 7: 1007,
    }


def test_streaming_old_layout_work_dir_is_refused(spark, tmpdirs):
    """A work dir written by the foreachBatch pipeline (curated/ + dlq/,
    no log/) has a checkpoint for another sink: resuming it must fail
    loudly, naming the dir, not replay into a second layout."""
    import os

    src, work = tmpdirs
    os.makedirs(os.path.join(work, "curated"))
    with pytest.raises(ValueError, match="old layout") as err:
        _pipeline(spark, src, work)
    assert work in str(err.value)
