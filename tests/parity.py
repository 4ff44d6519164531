"""Local mirror of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL side-by-side and compares
row count, column-name set, and an order-insensitive canonical multiset of
values — stricter than the driver can be (exact value equality after
canonicalization), so passing here should imply passing the gate.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

from bigbugdata_spark.catalog import TABLES


def sf2_opted_in() -> bool:
    """THE definition of the SPARK_GRAFT_PARITY_SF2 opt-in parse,
    shared by the second-scale skipif (tests/test_oracle_parity.py)
    and the sweep recorder (tests/conftest.py) — r13 review: the two
    used to disagree on '=0', so a =0 run executed the whole sweep and
    then discarded its record."""
    import os

    return os.environ.get("SPARK_GRAFT_PARITY_SF2", "").lower() not in (
        "",
        "0",
        "false",
    )


def slow_tier_opted_in() -> bool:
    """THE definition of the SPARK_GRAFT_SLOW_TIER opt-in parse (r18,
    VERDICT r17 #2), shared by the collection hook and the sweep
    recorder in tests/conftest.py — same contract as sf2_opted_in.

    The slow tier holds the restart/crash-recovery, stream-vs-batch
    equivalence, fuzz and multicycle-lifecycle tests (the mechanisms
    proven in rounds 8-17 and untouched since): ~15 min of the suite's
    wall time that pushed the DRIVER's pytest window past its budget
    (r17: 860 tests cut off ~80% with zero failures -> tests_ok: false
    of unknown cause).  Default runs stay under the window; the tier
    runs opt-in per round and records its result to
    SLOWTIER_SWEEP.json, exactly like the SF2 sweep."""
    import os

    return os.environ.get("SPARK_GRAFT_SLOW_TIER", "").lower() not in (
        "",
        "0",
        "false",
    )


#: how many tests carry @pytest.mark.slow_tier — the sweep recorder's
#: completeness guard (a targeted -k run must not overwrite the real
#: record, the SF2 rule) and a lint pin (tests/test_oracle_parity.py
#: counts the markers so the constant cannot drift silently).
SLOW_TIER_SIZE = 24


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0.0"
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def canon_rows(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_canon_value(r[i]) for i in order) for r in rows)


def compare(spark_df, con, oracle_sql: str):
    """Return (ok, message). Mirrors driver: count + schema + value multiset."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = con.sql(oracle_sql)
    d_cols = rel.columns
    d_rows = rel.fetchall()

    problems = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"columns differ: spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
    if len(s_rows) != len(d_rows):
        problems.append(f"row counts differ: spark={len(s_rows)} duckdb={len(d_rows)}")
    if not problems:
        cs = canon_rows(s_rows, s_cols)
        cd = canon_rows(d_rows, d_cols)
        if cs != cd:
            # symmetric-difference samples (zip-pairing two sorted lists
            # misaligns everything after the first insertion/deletion)
            only_s = [r for r in cs if r not in set(cd)][:3]
            only_d = [r for r in cd if r not in set(cs)][:3]
            problems.append(
                f"values differ; spark-only rows: {only_s}; duckdb-only rows: {only_d}"
            )
    return (not problems, "; ".join(problems) or "ok")
