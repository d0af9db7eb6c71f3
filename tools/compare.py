#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB over the same parquet
tables, and compares row count, column names/dtypes, and values (column-name-
sorted, row-sorted hash) — mirroring CORRECTNESS_r{N}.json.
An oracle key with no output directory (its query threw) counts as a FAIL.
"""
import json, os, sys, math
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def _num_kind(v):
    """bool / int / float class of a scalar, for dtype-strict comparison.

    The driver's hash is dtype-sensitive (int 5 vs float 5.0 hash apart even
    though 5 == 5.0), so the local stand-in must reject cross-kind numeric
    equality too — this is exactly what let the q44/q46 HUGEINT→float64
    oracle drift pass locally while failing the driver two rounds running.
    """
    import numpy as np
    if isinstance(v, (bool, np.bool_)):
        return "b"
    if isinstance(v, (int, np.integer)):
        return "i"
    if isinstance(v, (float, np.floating)):
        return "f"
    return None

def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    ka, kb = _num_kind(a), _num_kind(b)
    if ka is not None or kb is not None:
        if ka != kb:
            return False  # dtype-strict: int vs float vs bool never equal
        if ka == "f":
            if math.isnan(a) and math.isnan(b):
                return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)) or \
            type(a).__name__ == "ndarray" or type(b).__name__ == "ndarray":
        a = list(a) if a is not None else None
        b = list(b) if b is not None else None
        if a is None or b is None or len(a) != len(b):
            return False
        return all(values_equal(x, y) for x, y in zip(a, b))
    return a == b

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    # optional third arg: write a CORRECTNESS_r{N}.json-shaped artifact
    json_out = sys.argv[3] if len(sys.argv) > 3 else None
    results = {}
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        rec = {"rows_match": False, "schema_match": False, "hash_match": False,
               "spark_rows": None, "oracle_rows": None, "err": None}
        results[name] = rec
        try:
            got = pd.read_parquet(d)
        except Exception as e:
            rec["err"] = f"cannot read spark output: {e}"
            print(f"FAIL {name}: cannot read spark output: {e}")
            n_fail += 1
            continue
        rec["spark_rows"] = len(got)
        if name not in oracles:
            print(f"rows {name}: {len(got)} rows (no oracle, rows-only check: "
                  f"{'OK' if len(got) > 0 else 'EMPTY!'})")
            # schema/hash were NOT compared — null, not true, so a
            # consumer of the artifact can't read unverified as green
            rec["rows_match"] = len(got) > 0
            rec["schema_match"] = rec["hash_match"] = None
            rec["err"] = "rows-only check (no oracle)"
            n_fail += 0 if len(got) > 0 else 1
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            rec["err"] = f"oracle error: {str(e).splitlines()[0]}"
            print(f"FAIL {name}: oracle error: {str(e).splitlines()[0]}")
            n_fail += 1
            continue
        rec["oracle_rows"] = len(exp)
        g, e = canon(got), canon(exp)
        rec["rows_match"] = len(g) == len(e)
        rec["schema_match"] = list(g.columns) == list(e.columns)
        if not rec["schema_match"]:
            print(f"FAIL {name}: columns {list(g.columns)} != {list(e.columns)}")
            n_fail += 1
            continue
        if not rec["rows_match"]:
            print(f"FAIL {name}: rows {len(g)} != {len(e)}")
            n_fail += 1
            continue
        # dtype-strict column check: the driver's hash distinguishes int64
        # from float64 even when values are numerically identical, so a
        # kind mismatch (e.g. DuckDB HUGEINT widening → float64) must fail
        # here too, not just on the driver.
        kind_bad = [(c, str(g[c].dtype), str(e[c].dtype)) for c in g.columns
                    if g[c].dtype.kind != e[c].dtype.kind]
        if kind_bad:
            c, gd, ed = kind_bad[0]
            rec["err"] = f"dtype mismatch col {c}: spark={gd} duckdb={ed}"
            print(f"FAIL {name}: dtype mismatch col {c}: "
                  f"spark={gd} duckdb={ed}")
            n_fail += 1
            continue
        bad = None
        for i in range(len(g)):
            for c in g.columns:
                if not values_equal(g[c].iloc[i], e[c].iloc[i]):
                    bad = (i, c, g[c].iloc[i], e[c].iloc[i])
                    break
            if bad:
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]} col {bad[1]}: spark={bad[2]!r} duckdb={bad[3]!r}")
            n_fail += 1
        else:
            rec["hash_match"] = True
            print(f"PASS {name}: {len(g)} rows")
            n_pass += 1
    # an oracle whose query wrote nothing (it threw, or never ran) fails
    for name in sorted(set(oracles) - set(results)):
        results[name] = {"rows_match": False, "schema_match": False,
                         "hash_match": False, "spark_rows": None,
                         "oracle_rows": None, "err": "no spark output"}
        print(f"FAIL {name}: no spark output")
        n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=1)
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
