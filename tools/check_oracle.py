#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json (written by graft.Verify), runs each SQL in
DuckDB with views over <sfDir>/*.parquet, loads the Spark parquet result from
<verifyOutDir>/<name>/, canonicalizes both (column names sorted, rows sorted by
all columns, values stringified) and compares.
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def kinds(df: pd.DataFrame) -> list:
    """Unified per-column dtype kinds. int/float widths unify to 'num' (DuckDB
    fetchdf and pyarrow both float-promote nullable ints), but numeric vs
    string vs time NEVER unify — the driver's hash is dtype-sensitive, and a
    STRING doc_id against a BIGINT oracle must FAIL here like it fails there."""
    out = []
    for c in df.columns:
        dt = df[c].dtype
        if pd.api.types.is_bool_dtype(dt):
            out.append("bool")
        elif pd.api.types.is_numeric_dtype(dt):
            out.append("num")
        elif pd.api.types.is_datetime64_any_dtype(dt):
            out.append("time")
        else:
            out.append("obj")
    return out


def canon(df: pd.DataFrame):
    df = df.reindex(sorted(df.columns), axis=1)
    ks = kinds(df)

    def cell(v):
        if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, float):
            if v != v:
                return "nan"
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return repr(v)
        return str(v)

    out = df.apply(lambda c: c.map(cell))
    # typed sort: numeric/bool/time columns order by their native values (so
    # 2 < 10, not "10" < "2"); only genuinely-object columns sort stringified
    sort_df = pd.DataFrame({
        c: (df[c] if k in ("num", "bool", "time") else out[c])
        for c, k in zip(df.columns, ks)})
    order = sort_df.sort_values(by=list(sort_df.columns), kind="mergesort").index
    return ks, out.loc[order].reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    # DuckDB's default cap is 80% of RAM, which let one runaway oracle (sim9
    # before its CTEs were MATERIALIZED) take 12.5 GiB of a shared 16 GB box.
    # A quarter of RAM (at least 1 GB) is far above what the oracles need: at
    # sf0.01 the heaviest, sim4_label_agreement, peaks at 0.5 GiB RSS (one
    # process per query). Spilling is off (an empty temp_directory; the
    # default is ./.tmp): no oracle needs it.
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con = duckdb.connect(config={"memory_limit": f"{max(1024, phys // 4 >> 20)}MB",
                                 "temp_directory": ""})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            want_kinds, want = canon(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        try:
            got_kinds, got = canon(pd.read_parquet(f"{out_dir}/{name}"))
        except Exception as e:
            print(f"FAIL {name}: spark result missing: {e}")
            n_fail += 1
            continue
        # no empty-result exemption: DuckDB fetchdf and pyarrow both carry
        # real dtypes on zero-row frames, so dtype drift on a row-less board
        # query must fail here like it fails the driver's hash
        if got_kinds != want_kinds:
            print(f"FAIL {name}: dtypes {dict(zip(got.columns, got_kinds))} != "
                  f"{dict(zip(want.columns, want_kinds))}")
            n_fail += 1
        elif list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
        elif len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
        elif not got.equals(want):
            diff = (got != want).any(axis=1)
            idx = diff[diff].index[:3]
            print(f"FAIL {name}: {int(diff.sum())}/{len(got)} rows differ; first:")
            for i in idx:
                print(f"  spark:  {got.loc[i].to_dict()}")
                print(f"  duckdb: {want.loc[i].to_dict()}")
            n_fail += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
    # twin failures are reported and gate the exit code, but must not
    # corrupt the oracle pass fraction (their denominator is the twin set)
    n_twin_fail = check_warm_twins()
    print(f"{'PASS' if n_fail == 0 else 'FAIL'}: {len(oracle) - n_fail}/{len(oracle)}")
    if n_twin_fail:
        print(f"TWINS FAILED: {n_twin_fail}")
    return 1 if (n_fail or n_twin_fail) else 0


def check_warm_twins() -> int:
    """Cross-check the bench's warm-twin row counts against their in-suite
    counts (from target/bench_queries.json's "warm_rows" map). A warm twin's
    timing only certifies its in-suite number if it ran the SAME plan; a
    silent filter divergence between the paths would show up as a row-count
    mismatch here. Skipped quietly when no bench payload exists."""
    import os
    path = "target/bench_queries.json"
    if not os.path.exists(path):
        return 0
    try:
        payload = json.load(open(path))
    except Exception as e:
        print(f"TWIN FAIL: unreadable {path}: {e}")
        return 1
    warm_rows = payload.get("warm_rows")
    if not warm_rows:
        return 0
    # environment disclosure (r15 verdict): the artifact's own box-health
    # signal, so a loaded-box stamp is readable from the payload alone
    load = payload.get("load") or {}
    if load:
        print(f"TWIN ENV  loadavg start={load.get('start')} "
              f"end={load.get('end')} (1-min system load around the suite)")
    ratios = payload.get("warm_ratio") or {}
    n_fail = 0
    for name, counts in sorted(warm_rows.items()):
        suite, warm = counts.get("suite"), counts.get("warm")
        r = ratios.get(name)
        rtxt = f", warm_ratio={r}" + (" <- suite reading absorbed box load"
                                      if r and r > 1.5 else "") if r else ""
        if suite == warm and suite is not None and suite >= 0:
            print(f"TWIN OK   {name} (suite == warm == {suite} rows{rtxt})")
        else:
            print(f"TWIN FAIL {name}: in-suite {suite} rows vs warm twin "
                  f"{warm} — the twin did not run the same plan{rtxt}")
            n_fail += 1
    return n_fail


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
