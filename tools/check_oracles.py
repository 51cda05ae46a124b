"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet
tables, compare row-count + schema + order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
       python tools/check_oracles.py --sf-both [query ...]   # sf0.01 AND sf0.1
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_type(t: str) -> str:
    """Canonical type class for driver-hash compatibility checks. The
    driver's value hash is TYPE-SENSITIVE where this replica's Python
    normalization is not (r3: DuckDB sum(CASE..) returned HUGEINT,
    values equal, driver hash red) — so flag any column whose Spark and
    DuckDB types land in different classes.

    r6 hardening (the r5 escape): width-AWARE int/float classes
    (int32 vs int64, float32 vs float64) instead of one merged class,
    and DECIMAL maps to a dedicated red-flag class handled by
    :func:`type_findings` — like HUGEINT, it can never be safe in an
    output column, because duckdb's pandas client materialization
    coerces DECIMAL to float64 while Spark keeps ``Decimal`` objects,
    so the driver's hash over client-materialized values diverges even
    when every value is exactly equal (CORRECTNESS_r05: three green-
    valued queries hashed red)."""
    t = t.lower().strip()
    # recurse into list element types — an array<int> vs BIGINT[] gap is
    # the scalar HUGEINT failure mode one level down
    if t.startswith("array<") and t.endswith(">"):
        return f"list<{canon_type(t[6:-1])}>"
    if t.endswith("[]"):
        return f"list<{canon_type(t[:-2])}>"
    if t.startswith("list"):
        return "list<?>"
    if t.startswith("decimal"):
        return "DECIMAL-REDFLAG"
    if t.startswith("timestamp"):
        return "timestamp"
    if t in ("tinyint", "byte"):
        return "int8"
    if t in ("smallint", "short"):
        return "int16"
    if t in ("int", "integer"):
        return "int32"
    if t in ("bigint", "long"):
        return "int64"
    if t in ("utinyint", "usmallint", "uinteger", "ubigint"):
        return f"u{t[1:]}"
    if t == "hugeint":
        return "hugeint"
    if t in ("float", "real"):
        return "float32"
    if t == "double":
        return "float64"
    if t in ("string", "varchar", "char", "text"):
        return "str"
    if t in ("binary", "blob", "bytea"):
        return "bytes"
    return t


def type_findings(sp_types: dict, ora_types: dict) -> list:
    """All driver-hash type risks between a Spark result schema and its
    DuckDB oracle schema (types as reported by ``DataFrame.dtypes`` and
    ``rel.types``). Returns (col, spark_type, oracle_type, reason)
    tuples; empty means the schemas are representation-stable through
    both client materializations. Split out so tests can pin the exact
    r5 escape (DECIMAL on both sides — classes matched, driver hashed
    red) as a finding forever.

    A column present on only ONE side is itself a finding: main()
    happens to FAIL on column-name mismatch before calling this, but
    the function is exported as the standalone type gate, and a caller
    comparing unvalidated schemas must not get an empty findings list
    for a column the other engine doesn't even produce."""
    out = []
    for c in sorted(set(sp_types) | set(ora_types)):
        if c not in ora_types:
            out.append((c, sp_types[c], None, "column missing from oracle schema"))
            continue
        if c not in sp_types:
            out.append((c, None, ora_types[c], "column missing from spark schema"))
            continue
        s, o = canon_type(sp_types[c]), canon_type(ora_types[c])
        for side, cls in (("spark", s), ("oracle", o)):
            if "DECIMAL-REDFLAG" in cls:
                out.append(
                    (c, sp_types[c], ora_types[c],
                     f"{side} emits DECIMAL — duckdb .df() coerces to float64, "
                     "spark keeps Decimal; emit integer units or string")
                )
                break
        else:
            if s != o:
                out.append((c, sp_types[c], ora_types[c], f"class {s} != {o}"))
    return out


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(normalize(x) for x in v)
    return v


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--sf-both"]
    if "--sf-both" in sys.argv[1:]:
        # CI-shape gate (r9 discipline, asserted): every query green at
        # sf0.01 AND sf0.1 in one invocation — the 10x scale pass is
        # what catches cross-engine float defects that small magnitudes
        # mask (the r5 decimal->double 1-ulp divergence).
        only = set(args)
        rc = 0
        for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
            print(f"## gate @ {sf}")
            rc |= run_gate(sf, only)
        return rc
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    return run_gate(sf_dir, set(args[1:]))


def run_gate(sf_dir: str, only: set[str]) -> int:
    # Oracle SQL builders that train model state (IVF centroids) resolve
    # their corpus via this env var; pin it to the checked sf_dir so the
    # oracle always trains on the same data the Spark query reads.
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as E
    from outboxx_spark.session import get_spark

    spark = get_spark("check_oracles")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    t_build0 = time.monotonic()
    qs, oracles = E.queries(), E.oracle_sql()
    t_build = time.monotonic() - t_build0
    print(f"# queries()+oracle_sql() build: {t_build:.2f}s")
    failures = typewarns = 0
    total_spark = total_oracle = 0.0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sorted(sdf.columns)
            sset = sorted(
                tuple(normalize(r[c]) for c in scols) for r in srows
            )
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        t_spark = time.monotonic() - t0
        total_spark += t_spark
        if sql is None:
            print(f"PASS(rows-only) {name}: {len(srows)} rows [spark {t_spark:.2f}s]")
            continue
        t1 = time.monotonic()
        try:
            rel = con.sql(sql)
            ocols_raw = rel.columns
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        t_oracle = time.monotonic() - t1
        total_oracle += t_oracle
        ocols = sorted(ocols_raw)
        order = [ocols_raw.index(c) for c in ocols]
        oset = sorted(tuple(normalize(r[i]) for i in order) for r in orows)
        if scols != ocols:
            print(f"FAIL {name}: schema mismatch spark={scols} oracle={ocols}")
            failures += 1
        elif len(sset) != len(oset):
            print(f"FAIL {name}: rowcount spark={len(sset)} oracle={len(oset)}")
            failures += 1
        elif sset != oset:
            diff = [i for i, (a, b) in enumerate(zip(sset, oset)) if a != b][:3]
            print(f"FAIL {name}: value mismatch at sorted rows {diff}")
            for i in diff[:2]:
                print(f"  spark : {sset[i]}")
                print(f"  oracle: {oset[i]}")
            failures += 1
        else:
            # values matched — now check TYPE compatibility, which the
            # driver's hash is sensitive to even when values are equal
            sp_types = dict(sdf.dtypes)
            ora_types = {c: str(t) for c, t in zip(ocols_raw, rel.types)}
            mismatched = type_findings(sp_types, ora_types)
            if mismatched:
                typewarns += 1
                detail = ", ".join(
                    f"{c}: spark={s} oracle={o} ({why})" for c, s, o, why in mismatched
                )
                print(
                    f"TYPEWARN {name}: values match but column types differ "
                    f"({detail}) — driver hash may still be red"
                )
            else:
                print(
                    f"PASS {name}: {len(sset)} rows, {len(scols)} cols "
                    f"[spark {t_spark:.2f}s, oracle {t_oracle:.2f}s]"
                )
    print(
        f"# totals: spark {total_spark:.1f}s, oracle {total_oracle:.1f}s, "
        f"build {t_build:.1f}s, typewarns {typewarns}"
    )
    # typewarns fail the gate too: the tool itself predicts the driver
    # hash may go red, so exit-status consumers must not see green
    # (the session is reused across --sf-both passes, so never stopped)
    return 1 if (failures or typewarns) else 0


if __name__ == "__main__":
    raise SystemExit(main())
