"""Driver simulation: exercise __spark_entry__ exactly as the driver would.

Fresh process, import the contract module, run entry() at sf0.001,
then run every queries() entry (or only the NAMEs given) at sf0.01
against oracle_sql() on DuckDB, comparing row-count + column names +
order-insensitive values. Exit 0 iff every query matches.

Usage: python tools/driver_sim.py [NAME ...]
"""
import json
import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as contract
from cc2dataset_spark.session import local_cpus

# A bare builder, not session.build_spark_session: the driver brings
# its own session, so none of the package's session confs may apply.
spark = (
    SparkSession.builder.master(f"local[{local_cpus()}]")
    .appName("driver-sim")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

# --- t1 smoke ---
df = contract.entry(spark)
rows = df.collect()
print(f"t1 smoke: entry() -> {len(rows)} rows, schema={df.columns}")
assert len(rows) >= 0

# --- t2 correctness ---
# SPARK_GRAFT_SIM_SF overrides the scale (the driver runs sf0.01; a
# one-off sf0.1 sweep stresses the rounding-boundary discipline with
# 10x the data, where every cross-engine float boundary moves)
SF = os.environ.get("SPARK_GRAFT_SIM_SF", "/root/testdata/sf0.01")
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(v):
    # FULL-PRECISION normalization (r11, verdict ask #5): the r10
    # external red was hash-only on values this sim called equal
    # under its old 12-significant-digit rounding + Decimal->float
    # coercion — strictly more forgiving than an unknown driver
    # hasher, i.e. exactly how a sim-green/driver-red escape stays
    # invisible. Doubles now compare by shortest round-trip repr
    # (17g-equivalent, bit-exact up to the NaN/-0.0 canonicalization
    # below); Decimals stay exact — integral ones canonicalize to
    # int (no precision loss, avoids spurious int-vs-Decimal type
    # noise where engines agree numerically), fractional ones to a
    # normalized exact string.
    if isinstance(v, Decimal):
        if v == v.to_integral_value():
            return int(v)
        return f"dec:{v.normalize()}"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # collapse -0.0 / +0.0
        return f"f:{v!r}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v

qs = contract.queries()
osql = contract.oracle_sql()
results = {}
for name in sys.argv[1:] or sorted(qs):
    try:
        sdf = qs[name](spark, SF)
        scols = sorted(sdf.columns)
        srows = sorted(
            (tuple(norm(r[c]) for c in scols) for r in sdf.collect()),
            key=lambda t: tuple((x is None, str(x)) for x in t),
        )
        if name not in osql:
            results[name] = f"rows_only:{len(srows)}"
            continue
        rel = con.execute(osql[name])
        dcols = sorted(c[0] for c in rel.description)
        draw = rel.fetchall()
        idx = {c[0]: i for i, c in enumerate(rel.description)}
        drows = sorted(
            (tuple(norm(r[idx[c]]) for c in dcols) for r in draw),
            key=lambda t: tuple((x is None, str(x)) for x in t),
        )
        if scols != dcols:
            results[name] = f"SCHEMA_MISMATCH spark={scols} duck={dcols}"
        elif len(srows) != len(drows):
            results[name] = f"COUNT_MISMATCH spark={len(srows)} duck={len(drows)}"
        elif srows != drows:
            bad = [(a, b) for a, b in zip(srows, drows) if a != b][:2]
            results[name] = f"VALUE_MISMATCH {bad}"
        else:
            results[name] = f"match:{len(srows)}"
    except Exception as ex:  # noqa: BLE001
        results[name] = f"ERROR {type(ex).__name__}: {ex}"[:300]

print(json.dumps(results, indent=1))
nbad = sum(1 for v in results.values() if not (v.startswith("match") or v.startswith("rows_only")))
print(f"TOTAL {len(results)} queries, {nbad} mismatches")
sys.exit(1 if nbad else 0)
