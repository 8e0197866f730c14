"""Seeded input generators and the Python reference models they keep.

Nothing here imports Spark: every generator returns pyarrow tables (or
writes parquet files) and updates a plain-Python model of what the
engine must produce from them. The same seed always yields the same
tables and the same model.

* ``CdcGenerator``    — employee change events (``emp_cdc`` shape) and
  the replica / dead-letter queue the pipeline must converge to.
* ``SalaryGenerator`` — Project-1 salary messages and the per-department
  running totals plus the corrupt-message count.
* ``write_tables``    — the TPC-H-shaped star schema plus the events,
  documents and embeddings tables the registered batch queries read.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_NAMES = [f"First{i:02d}" for i in range(40)]
LAST_NAMES = [f"Last{i:02d}" for i in range(40)]
CITIES = [f"City{i:02d}" for i in range(25)]
ACTIONS = np.array(["insert", "update", "delete"])
#: action mix of the change stream: 25% insert, 60% update, 15% delete
ACTION_P = [0.25, 0.60, 0.15]
#: share of change events that fail the consumer's validation rules
INVALID_SHARE = 0.10
EPOCH_DAY = dt.date(1970, 1, 1)
TS_BASE_US = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)


def zipf_sampler(rng: np.random.Generator, n_keys: int, s: float = 1.1):
    """Draw ranks 0..n_keys-1 with P(rank k) ~ 1/(k+1)^s, mapped through
    a seeded permutation so the hot keys are scattered over the id
    space instead of sitting at its start."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w / w.sum())
    perm = rng.permutation(n_keys)

    def draw(size: int) -> np.ndarray:
        ranks = np.searchsorted(cdf, rng.random(size), side="right")
        return perm[np.minimum(ranks, n_keys - 1)]

    return draw


def row_crc(*fields) -> int:
    """CRC32 of the ``|``-joined field texts — the Python side of the
    ``crc32(concat_ws('|', ...))`` digest the benchmark computes in
    Spark."""
    return zlib.crc32("|".join(str(f) for f in fields).encode())


# ---------------------------------------------------------------------------
# CDC change events
# ---------------------------------------------------------------------------

#: columns, in order, of the change-event digest (see ``row_crc``)
CDC_DIGEST_COLS = ("emp_id", "seq", "first_name", "last_name", "dob", "city",
                   "salary", "action")


class CdcGenerator:
    """Seeded employee change events plus the replica model.

    Keys are Zipf-skewed over ``n_keys`` employees. Each event is valid
    unless it breaks one of the consumer's rules (dob year <= 2007,
    salary <= 100, emp_id < 0). Valid events apply last-writer-wins in
    ``(last_updated_at, seq)`` order: insert/update store the row image,
    delete removes the key. Invalid events only land in the DLQ.
    ``last_updated_at`` advances one millisecond every three events, so
    ties exist and ``seq`` has to break them.
    """

    def __init__(self, seed: int, n_keys: int) -> None:
        self.rng = np.random.default_rng([seed, 1])
        self.draw_key = zipf_sampler(self.rng, n_keys)
        self.seq = 0
        #: emp_id -> digest of the surviving row image
        self.replica: dict[int, int] = {}
        self.dlq_rows = 0
        self.dlq_crc_sum = 0
        self.events = 0

    def batch(self, n: int) -> pa.Table:
        rng = self.rng
        emp = self.draw_key(n).astype(np.int64) + 1
        action = ACTIONS[rng.choice(3, size=n, p=ACTION_P)]
        first = np.array(FIRST_NAMES)[rng.integers(0, len(FIRST_NAMES), n)]
        last = np.array(LAST_NAMES)[rng.integers(0, len(LAST_NAMES), n)]
        city = np.array(CITIES)[rng.integers(0, len(CITIES), n)]
        # valid images: born 2008..2015, salary 30k..200k
        dob_days = (dt.date(2008, 1, 1) - EPOCH_DAY).days + rng.integers(0, 2900, n)
        salary = rng.integers(30_000, 200_001, n).astype(np.int32)
        invalid = rng.random(n) < INVALID_SHARE
        rule = rng.integers(0, 3, n)
        bad_dob = invalid & (rule == 0)
        dob_days[bad_dob] = (dt.date(1950, 1, 1) - EPOCH_DAY).days + rng.integers(
            0, 20_000, int(bad_dob.sum())
        )
        bad_sal = invalid & (rule == 1)
        salary[bad_sal] = rng.integers(1, 101, int(bad_sal.sum()))
        emp[invalid & (rule == 2)] *= -1
        seq = np.arange(self.seq, self.seq + n, dtype=np.int64)
        self.seq += n
        ts_us = TS_BASE_US + (seq // 3) * 1000

        dobs = [EPOCH_DAY + dt.timedelta(days=int(d)) for d in dob_days]
        for i in range(n):
            crc = row_crc(emp[i], seq[i], first[i], last[i], dobs[i], city[i],
                          salary[i], action[i])
            if invalid[i]:
                self.dlq_rows += 1
                self.dlq_crc_sum += crc
            elif action[i] == "delete":
                self.replica.pop(int(emp[i]), None)
            else:
                self.replica[int(emp[i])] = crc
        self.events += n
        return pa.table(
            {
                "emp_id": pa.array(emp, pa.int64()),
                "first_name": pa.array(first, pa.string()),
                "last_name": pa.array(last, pa.string()),
                "dob": pa.array(dob_days.astype(np.int32), pa.date32()),
                "city": pa.array(city, pa.string()),
                "salary": pa.array(salary, pa.int32()),
                "action": pa.array(action, pa.string()),
                "last_updated_at": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
                "seq": pa.array(seq, pa.int64()),
            }
        )

    def replica_digest(self) -> tuple[int, int]:
        return len(self.replica), sum(self.replica.values())

    def dlq_digest(self) -> tuple[int, int]:
        return self.dlq_rows, self.dlq_crc_sum


# ---------------------------------------------------------------------------
# Project-1 salary messages
# ---------------------------------------------------------------------------


class SalaryGenerator:
    """Seeded Project-1 salary messages plus the running-totals model.

    Departments are Zipf-skewed over ``n_depts`` names; ``corrupt_share``
    of the messages are marked corrupt (the benchmark truncates their
    JSON payload, so the consumer must decode them to NULL and leave
    them out of every total). The model total of a department is the
    sum of ``floor(salary)`` over its intact messages.
    """

    def __init__(self, seed: int, n_depts: int = 1000,
                 corrupt_share: float = 0.01) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.draw_dept = zipf_sampler(self.rng, n_depts)
        self.corrupt_share = corrupt_share
        self.next_id = 0
        self.totals: dict[str, int] = {}
        self.corrupt = 0
        self.messages = 0

    def chunk(self, n: int) -> pa.Table:
        rng = self.rng
        dept_idx = self.draw_dept(n)
        dept = np.char.add("DEPT-", dept_idx.astype(str))
        cents = rng.integers(3_000_000, 25_000_000, n)
        corrupt = rng.random(n) < self.corrupt_share
        hire_days = (dt.date(1990, 1, 1) - EPOCH_DAY).days + rng.integers(0, 12_000, n)
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        self.messages += n
        self.corrupt += int(corrupt.sum())
        whole = cents // 100
        for d, w in zip(dept[~corrupt], whole[~corrupt]):
            self.totals[d] = self.totals.get(d, 0) + int(w)
        return pa.table(
            {
                "msg_id": pa.array(ids, pa.int64()),
                "department": pa.array(dept, pa.string()),
                "department_division": pa.array(
                    np.char.add("DIV-", (dept_idx % 37).astype(str)), pa.string()
                ),
                "position_title": pa.array(
                    np.char.add("Title ", rng.integers(0, 60, n).astype(str)),
                    pa.string(),
                ),
                "hire_date": pa.array(hire_days.astype(np.int32), pa.date32()),
                "salary_cents": pa.array(cents, pa.int64()),
                "corrupt": pa.array(corrupt, pa.bool_()),
            }
        )


# ---------------------------------------------------------------------------
# Batch tables
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "the a of and to in is data spark stream batch table scan join merge "
    "hash sort key order part window small big fast slow filter group agg "
    "query row line value column customer vector dup"
).split()


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TPC-H proportions
    for the star schema)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(200, int(1_500_000 * sf)),
        "lineitem": max(800, int(6_000_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": max(100, int(50_000 * sf)),
    }


def _ts(days: np.ndarray, start: dt.date) -> pa.Array:
    us = ((start - EPOCH_DAY).days + days.astype(np.int64)) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 3])
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add("part ", rng.integers(0, 500, npart).astype(str)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(npart) % 1000 * 0.1, 2),
    })
    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 450_000.0, no),
        "o_orderdate": _ts(odays, dt.date(1995, 1, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    lok = rng.integers(0, no, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odays[lok] + rng.integers(1, 122, nl), dt.date(1995, 1, 1)),
    })
    ne = n["events"]
    n_users = max(20, ne // 65)
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(TS_BASE_US + ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": _money(rng, 0.01, 500.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    vocab = np.array(VOCAB)
    texts = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.03:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        n_words = int(rng.integers(2, 90))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, size=nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every batch table as ``<out_dir>/<name>.parquet``; returns
    the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
