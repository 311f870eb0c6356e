#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify first, then
this script compares each <outDir>/<name> parquet against the DuckDB result of
<outDir>/oracle_sql.json's SQL over the sfDir tables.

Usage: oracle_check.py <sfDir> <outDir> [q_a,q_b,...]

The optional third argument is the comma-separated row list a filtered
Verify ran. An oracle row outside that list with no output is reported as
[NOT RUN] and counted apart; a listed row with no output is a [FAIL]. Without
the list every oracle row without output is a [FAIL]. The exit status is
non-zero whenever a row fails.
"""
import sys, os, json, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    """REPRESENTATION-sensitive canonical form, mimicking the driver's gate
    (which hashes formatted values after sorting columns by name). No numeric
    rounding: Decimal('123.40') must NOT equal 123.4 here, because it does not
    hash-equal on the driver either. Queries must emit canonical dtypes
    (DOUBLE, not DECIMAL) on both the Spark and the oracle side."""
    try:
        if v != v:  # NaN / NaT: self-inequality would fail identical rows
            return "__null__"
    except (TypeError, ValueError):
        pass
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, float):
        return repr(float(v))
    return str(v)


def main(sf_dir, out_dir, run_list=None):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    ran = None if run_list is None else {n.strip() for n in run_list.split(",") if n.strip()}
    n_pass = n_fail = n_not_run = 0
    dirs = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    # an oracle-listed query with NO output dir means Verify errored on it —
    # that's a failure, not a skip — unless a filtered Verify never ran it
    for missing in sorted(set(oracle) - dirs):
        if ran is not None and missing not in ran:
            n_not_run += 1
            print(f"  [NOT RUN] {missing}: not in the run list")
        else:
            n_fail += 1
            print(f"  [FAIL] {missing}: no output written (query errored in Verify)")
    for name in sorted(dirs):
        d = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(d, "*.parquet"))
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df() if files else None
        if name not in oracle:
            print(f"  [rows-only] {name}: {0 if got is None else len(got)} rows")
            continue
        if got is None:
            n_fail += 1
            print(f"  [FAIL] {name}: output dir has no parquet files")
            continue
        exp = con.sql(oracle[name]).df()
        ok, why = True, ""
        gcols, ecols = sorted(map(str.lower, got.columns)), sorted(map(str.lower, exp.columns))
        if gcols != ecols:
            ok, why = False, f"schema {gcols} != {ecols}"
        else:
            g = got[sorted(got.columns, key=str.lower)]
            e = exp[sorted(exp.columns, key=str.lower)]
            gr = sorted([tuple(norm(v) for v in r) for r in g.itertuples(index=False)])
            er = sorted([tuple(norm(v) for v in r) for r in e.itertuples(index=False)])
            if len(gr) != len(er):
                ok, why = False, f"rowcount {len(gr)} != {len(er)}"
            elif gr != er:
                diffs = [(a, b) for a, b in zip(gr, er) if a != b][:3]
                ok, why = False, f"values differ, e.g. {diffs}"
        if ok:
            n_pass += 1
            print(f"  [PASS] {name} ({len(exp)} rows)")
        else:
            n_fail += 1
            print(f"  [FAIL] {name}: {why}")
    not_run = "" if ran is None else f", {n_not_run} not run"
    print(f"{n_pass} pass, {n_fail} fail{not_run}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
