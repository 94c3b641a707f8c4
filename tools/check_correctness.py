"""Local twin of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf_dir, runs the
matching oracle_sql() in DuckDB over pre-registered views, and compares
row count + column names + an order-insensitive value hash (columns
sorted by name, rows sorted, values stringified with float rounding).

Usage: python tools/check_correctness.py [sf_dir] [query ...]

``tools/gate_state.py verify`` calls ``check`` to re-verify queries.
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    import numpy as np

    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v != v:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    if not len(df):
        return "EMPTY:" + ",".join(cols)
    s = df[cols].map(norm_cell)
    rows = sorted("|".join(r) for r in s.itertuples(index=False, name=None))
    h = hashlib.md5()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    results = check(sf_dir, set(sys.argv[2:]))
    bad = {k: v for k, v in results.items() if v.startswith(("FAIL", "SPARK", "ORACLE"))}
    print(f"\n{len(results) - len(bad)}/{len(results)} OK")
    if bad:
        sys.exit(1)


def check(sf_dir: str, only: set[str]) -> dict[str, str]:
    """Per-query verdict ("OK", "rows-only: ...", "FAIL: ...", "SPARK
    ERROR: ..." or "ORACLE ERROR: ...") for every query, or for the
    ``only`` ones when given, at ``sf_dir``."""
    sys.path.insert(0, ".")
    import __spark_entry__ as entry_mod
    from ocr_lib_spark.session import get_spark

    spark = get_spark(cores=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            results[name] = f"SPARK ERROR: {type(e).__name__}: {e}"
            print(f"{name:24s} SPARK ERROR: {e}", flush=True)
            continue
        spark_s = time.monotonic() - t0
        if name not in oracles:
            results[name] = f"rows-only: {len(sdf)} rows"
            print(f"{name:24s} rows-only  {len(sdf):>8} rows  {spark_s:.1f}s", flush=True)
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE ERROR: {e}"
            print(f"{name:24s} ORACLE ERROR: {e}", flush=True)
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            problems.extend(_driver_shape_problems(sdf, odf))
            hs, ho = frame_hash(sdf), frame_hash(odf)
            if hs != ho:
                problems.append("value-hash mismatch")
                merged = _diff_sample(sdf, odf)
                if merged is not None:
                    problems.append(merged)
        status = "OK" if not problems else "FAIL: " + "; ".join(str(p) for p in problems)
        results[name] = status
        print(f"{name:24s} {status}  ({len(sdf)} rows, {spark_s:.1f}s)", flush=True)

    spark.stop()
    return results


def _driver_shape_problems(sdf, odf):
    """Catch drift the stringifying hash above would mask but the
    external driver's canonicalizer would not:

    - int-vs-float dtype drift (driver stringifies 17 vs 17.0 -> hash
      mismatch; our %.9g formatting hides it) — the anti_semi_customers
      round-1 failure class;
    - non-scalar cells (list/array/struct) — the driver sort_values
      raises `unhashable type: 'list'` — the multimodal_hist failure.
    """
    import numpy as np

    out = []
    for c in sorted(sdf.columns):
        sk, ok = sdf[c].dtype.kind, odf[c].dtype.kind
        if sk != ok and "f" in (sk, ok) and {sk, ok} & {"i", "u"}:
            out.append(f"dtype drift {c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
        sample = list(sdf[c].head(5)) + list(odf[c].head(5))
        if any(isinstance(v, (list, tuple, dict, np.ndarray)) for v in sample):
            out.append(f"non-scalar cells in {c} (driver canonicalizer cannot sort arrays)")
    return out


def _diff_sample(sdf, odf, n=3):
    try:
        cols = sorted(sdf.columns)
        a = sdf[cols].map(norm_cell).apply(lambda r: "|".join(r), axis=1)
        b = odf[cols].map(norm_cell).apply(lambda r: "|".join(r), axis=1)
        only_a = sorted(set(a) - set(b))[:n]
        only_b = sorted(set(b) - set(a))[:n]
        return f"spark-only={only_a} oracle-only={only_b}"
    except Exception:
        return None


if __name__ == "__main__":
    main()
