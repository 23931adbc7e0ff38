"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on sf0.01, runs the matching
``oracle_sql()`` in DuckDB over the same parquet files, and compares
row-count, sorted-column schema, and an order-insensitive value hash
(floats rounded to 9 significant digits before hashing to absorb
last-ulp noise).

Usage: python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\x02")
    return h.hexdigest()[:16]


def main(argv):
    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from packs_spark.session import get_spark

    sf_dir = "/root/testdata/sf0.01"
    spark = get_spark("check_oracle", master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(argv) if argv else None
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sorted(sdf.columns)
        srows = [tuple(r) for r in sdf.collect()]
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"  {name}: rows={len(srows)} (no oracle — rows-only) [{t_spark:.1f}s]")
            if len(srows) == 0:
                failures.append((name, "0 rows"))
            continue
        odf = con.execute(oracles[name]).fetchdf()
        ocols = sorted(odf.columns.tolist())
        orows = [tuple(r) for r in odf.itertuples(index=False)]
        problems = []
        # Predictive driver-parity guard (round-3 root cause): DuckDB types
        # uncast sum(CASE...) as HUGEINT, which the pandas/Arrow fetch path
        # converts to float64; the driver then hashes '0.0' vs Spark's '0'.
        # Our %.9g canon hides that ('0.0' -> '0'), so catch it by TYPE: any
        # oracle column pandas typed as float where Spark's schema is
        # integral means the oracle SQL is missing a CAST(... AS BIGINT).
        integral = {"byte", "short", "integer", "long"}
        spark_types = {f.name.lower(): f.dataType.typeName() for f in sdf.schema.fields}
        for oc in odf.columns:
            st = spark_types.get(oc.lower())
            # a NULL-containing integral column legitimately fetches as
            # float64-with-NaN — only an all-non-null float column facing
            # an integral Spark schema signals the uncast-HUGEINT bug
            if (
                st in integral
                and str(odf[oc].dtype).startswith("float")
                and not odf[oc].isna().any()
            ):
                problems.append(
                    f"oracle col {oc} is {odf[oc].dtype} but Spark is {st} "
                    "(uncast HUGEINT? add CAST(... AS BIGINT) in the oracle)"
                )
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if [c.lower() for c in scols] != [c.lower() for c in ocols]:
            problems.append(f"schema spark={scols} oracle={ocols}")
        else:
            hs = value_hash(srows, sdf.columns)
            ho = value_hash(orows, odf.columns.tolist())
            if hs != ho:
                problems.append(f"hash spark={hs} oracle={ho}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"✗ {name}: {'; '.join(problems)}")
            if len(srows) < 30 and len(orows) < 30:
                print("  spark :", sorted(srows)[:12])
                print("  oracle:", sorted(orows)[:12])
        else:
            print(f"✓ {name}: rows={len(srows)} hash ok [{t_spark:.1f}s]")
    print()
    if failures:
        print(f"FAILED {len(failures)}: {[f[0] for f in failures]}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
