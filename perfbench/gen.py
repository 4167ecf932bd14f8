"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes the
same bytes. Nothing imports Spark, so inputs are made before the session
starts and their cost stays out of every timed figure.

* ``write_tables`` writes the ten parquet tables the registered queries
  read (TPC-H-like star schema, ``events``, ``documents``,
  ``embeddings``), with the schemas and value domains of the repository's
  synthetic test data (FIXTURES.md section 4).
* ``SensorFiles`` writes 5-column sensor CSV files following the
  FIXTURES.md section 2 error taxonomy and keeps the ground truth: which
  files are good, the expected per-row reasons and K5 reason of each bad
  file, and the expected raw and aggregate row counts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# query tables
# --------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("blue", "large", "hot", "small", "red", "cold", "steel", "tiny")
_PART_NOUN = ("anvil", "ring", "bolt", "widget", "gear", "nut", "spring", "valve")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "es", "fr", "zh")
_WORDS = (
    "a the data table row column part line order customer query filter join "
    "group agg sort hash scan merge window stream batch spark key value vector "
    "big small fast slow"
).split()

# rows per table at scale factor 1; the query workloads use sf 0.01
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the query tables for ``seed`` at scale ``sf``; returns row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(r * sf)) for t, r in _BASE_ROWS.items()}
    n_users = max(10, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })

    day0 = np.datetime64("1995-01-01", "us")
    one_day = np.timedelta64(1, "D").astype("timedelta64[us]")
    odate = day0 + rng.integers(0, 2404, n["orders"]) * one_day
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(("F", "O", "P"), n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
    })
    lok = rng.integers(0, n["orders"], n["lineitem"])
    _write(out_dir, "lineitem", {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
        "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
        "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n["lineitem"]),
        "l_linestatus": rng.choice(("F", "O"), n["lineitem"]),
        "l_shipdate": pa.array(
            odate[lok] + rng.integers(1, 96, n["lineitem"]) * one_day, pa.timestamp("us")
        ),
    })

    ts0 = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n["events"]))
    _write(out_dir, "events", {
        "event_id": np.arange(n["events"], dtype=np.int64),
        "ts": pa.array(ts0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n["events"]),
        "event_type": rng.choice(_EVENT_TYPES, n["events"]),
        "value": np.round(rng.exponential(60.0, n["events"]) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })

    texts = _documents(rng, n["documents"])
    _write(out_dir, "documents", {
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n["documents"]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n["embeddings"])
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n["embeddings"], 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    counts = dict(n)
    counts.update(region=5, nation=25)
    return counts


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random-word documents; about a fifth copy an earlier document with
    a few words changed, so the near-duplicate operators find clusters."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), int(rng.integers(0, 3))):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return texts


# --------------------------------------------------------------------------
# sensor CSV files
# --------------------------------------------------------------------------

HEADER = "timestamp,sensor_id,temperature,humidity,pressure"
_SENSORS = ("Weather_Station_Main", "Kaggle_Sim_A01", "Kaggle_Weather_01", "Kaggle_Sim_B02")
ERROR_TYPES = (
    "null_key_sensor_id",
    "null_key_timestamp",
    "bad_type_temp",
    "out_of_range_temp_low",
    "out_of_range_temp_high",
    "null_reading_humidity",
)
# share of files that carry 1-3 bad rows (FIXTURES.md section 2)
ERROR_RATE = 0.2


@dataclass
class SensorFile:
    name: str
    rows: int
    # (sensor_id, metric) pairs holding at least one value: the file's
    # expected aggregate rows when it is good
    agg_rows: int
    # CSV line number -> expected error_reason, for the rows that fail
    bad_rows: dict[int, str] = field(default_factory=dict)
    missing_column: str | None = None

    @property
    def good(self) -> bool:
        return not self.bad_rows and self.missing_column is None

    def k5_reason(self) -> str:
        """The reason string the quarantine log carries for this file."""
        if self.missing_column is not None:
            return (
                f"File '{self.name}': Missing critical columns: "
                f"{self.missing_column}. Quarantining."
            )
        first = min(self.bad_rows)
        return f"Validation failed at row {first}: {self.bad_rows[first]}"


class SensorFiles:
    """Writes seeded sensor CSV files and keeps their ground truth.

    A share ``ERROR_RATE`` of the files carry 1-3 bad rows drawn
    uniformly from the six FIXTURES.md error types; ``header_fault=True``
    writes a file whose header lacks the ``pressure`` column. ``write`` puts a file in the
    staging directory and ``land`` renames it into the target directory,
    so a watcher never sees a partial file.
    """

    def __init__(self, seed: int, staging_dir: str, rows_per_file: int = 5000):
        self.rng = np.random.default_rng(seed)
        self.staging_dir = staging_dir
        self.rows_per_file = rows_per_file
        self.files: dict[str, SensorFile] = {}
        os.makedirs(staging_dir, exist_ok=True)

    def write(self, name: str, header_fault: bool = False) -> SensorFile:
        """Write one file into the staging directory; returns its truth."""
        rng = self.rng
        n = self.rows_per_file
        start = np.datetime64("2025-05-01T00:00:00") + np.timedelta64(int(rng.integers(0, 24 * 60)), "h")
        steps = np.cumsum(rng.integers(5 * 60, 30 * 60 + 1, n)).astype("timedelta64[s]")
        stamps = np.char.replace((start + steps).astype(str), "T", " ").tolist()
        sid = rng.choice(_SENSORS, n).tolist()
        temp = [f"{v:.1f}" for v in rng.uniform(-5.0, 35.0, n).tolist()]
        hum = [f"{v:.2f}" for v in rng.uniform(0.20, 0.99, n).tolist()]
        pres = [f"{v:.1f}" for v in rng.uniform(980.0, 1050.0, n).tolist()]

        truth = SensorFile(name=name, rows=n, agg_rows=3 * len(set(sid)))
        if header_fault:
            truth.missing_column = "pressure"
        elif rng.random() < ERROR_RATE:
            k = int(rng.integers(1, 4))
            for i in sorted(rng.choice(n, k, replace=False).tolist()):
                kind = ERROR_TYPES[int(rng.integers(0, len(ERROR_TYPES)))]
                line = i + 2  # header is line 1
                if kind == "null_key_sensor_id":
                    sid[i] = ""
                    msg = "'sensor_id' is null."
                elif kind == "null_key_timestamp":
                    stamps[i] = "NOT_A_VALID_TIMESTAMP"
                    msg = "'timestamp' ('NOT_A_VALID_TIMESTAMP') is unparsable."
                elif kind == "bad_type_temp":
                    temp[i] = "abc"
                    msg = "'temperature' ('abc') is not a valid number."
                elif kind == "null_reading_humidity":
                    hum[i] = ""
                    msg = "'humidity' is null."
                else:
                    delta = rng.uniform(5.0, 20.0)
                    v = -50.0 - delta if kind.endswith("low") else 50.0 + delta
                    temp[i] = f"{v:.1f}"
                    msg = f"'temperature' ('{temp[i]}') is out of range [-50.0, 50.0]."
                truth.bad_rows[line] = f"Row {line}: {msg}"

        if header_fault:
            lines = ["timestamp,sensor_id,temperature,humidity"]
            lines += [f"{a},{b},{c},{d}" for a, b, c, d in zip(stamps, sid, temp, hum)]
        else:
            lines = [HEADER]
            lines += [f"{a},{b},{c},{d},{e}" for a, b, c, d, e in zip(stamps, sid, temp, hum, pres)]
        with open(os.path.join(self.staging_dir, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        self.files[name] = truth
        return truth

    def land(self, name: str, target_dir: str) -> None:
        os.rename(os.path.join(self.staging_dir, name), os.path.join(target_dir, name))
