"""Local stand-in for the driver's correctness gate.

Runs every queries() entry at the given sf dir, compares against its
oracle_sql() via DuckDB: row count, column names, order-insensitive
value multiset. Prints a per-query verdict + summary.

Usage: python scripts/check_oracle.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb


def oracle_type_problems(con, sql: str, spark_dtypes) -> list[str]:
    """Column-type divergences between an oracle query and the Spark
    frame's ``dtypes`` that fail the driver's gate.

    The driver's value hash is TYPE-sensitive (arrow buffers): an
    un-CAST integer sum() types HUGEINT in DuckDB and hash-mismatches
    an int64 Spark column even when values are identical. Types come
    from ``DESCRIBE <sql>``: DB-API ``description`` reports 'NUMBER'
    for every numeric column, so a HUGEINT never shows there."""
    dtypes = {row[0].lower(): str(row[1]).upper()
              for row in con.execute(f"DESCRIBE {sql}").fetchall()}
    stypes = {c.lower(): t for c, t in spark_dtypes}
    problems = []
    for col, dt in dtypes.items():
        if "HUGEINT" in dt:
            problems.append(
                f"oracle col {col} is {dt} — CAST(... AS BIGINT) it")
            continue
        st = stypes.get(col)
        if st is None:
            continue
        d_int = "INT" in dt
        s_int = st in ("tinyint", "smallint", "int", "bigint", "long")
        d_flt = any(x in dt for x in ("DOUBLE", "FLOAT", "DECIMAL"))
        s_flt = st in ("float", "double") or st.startswith("decimal")
        if (d_int and s_flt) or (d_flt and s_int):
            problems.append(f"type divergence on {col}: spark {st} vs "
                            f"oracle {dt}")
    return problems


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 and float32-vs-64 repr noise at 1e-9
        return round(v + 0.0, 9)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:
        pass
    return v


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def exact_cell(v):
    """Repr-exact float view (mirrors the driver's value hash, which
    feeds raw arrow buffers to the hasher): only -0.0 and Decimal are
    canonicalized; no rounding."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(float(v) + 0.0)
    except ImportError:
        pass
    return v


def normalize_exact(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(exact_cell(r[i]) for i in order) for r in rows)


def main():
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    # workers resolve the daemon module from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        # pre-imported pandas/pyarrow and zip-directory stamps: each Arrow
        # UDF task skips ~0.2 s of pyspark.zip re-reads
        .config("spark.python.daemon.module", "lucene_solr_spark.warm_daemon")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    ok = bad = weak = 0
    for name, fn in qs.items():
        import re

        if name_filter and not re.search(name_filter, name):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            bad += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            bad += 1
            continue
        # catch type divergence pre-driver (FAILs, not warnings)
        problems = oracle_type_problems(con, oracles[name], sdf.dtypes)
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            problems.append(f"cols {scols} vs {dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        drift = []
        if not problems:
            a = normalize(srows, scols)
            b = normalize(drows, dcols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, e.g. {diff}")
            else:
                # The DRIVER's value hash is exact-repr, not 1e-9-
                # normalized: sub-1e-9 float drift between engines is
                # invisible to this gate but flips the driver's hash
                # when a value sits on a rounding boundary (the round-4
                # text_logit_train lesson). Warn on any exact mismatch
                # the normalization swallowed so rounding-boundary rows
                # surface here first.
                ea = normalize_exact(srows, scols)
                eb = normalize_exact(drows, dcols)
                if ea != eb:
                    dd = [(x, y) for x, y in zip(ea, eb) if x != y][:2]
                    drift.append(f"sub-1e-9 float drift, e.g. {dd}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            bad += 1
        elif drift:
            print(f"ok~   {name} ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s) WARN: {'; '.join(drift)}")
            ok += 1
        else:
            print(f"ok    {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            ok += 1
    print(f"\n{ok} ok, {weak} rows-only, {bad} FAILED")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
