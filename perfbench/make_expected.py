#!/usr/bin/env python3
"""Regenerate the benchmark's stored expected outputs.

    python3 perfbench/make_expected.py corpus
        DuckDB answers of the catalog's oracle SQL (perfbench/expected/
        oracle_sql.json) over perfbench/data/*.parquet, reduced to the
        canonical hash graftbench.Canon computes over the engine's output,
        written to perfbench/expected/corpus_dedup.json.

    python3 perfbench/make_expected.py serve <passes.jsonl>
        Takes one serial rag-serve pass ({"id": <question id>, "passages":
        [...]} per line, every question once), checks that its recall grid
        equals EVALGRID.json's graph_rag, and writes the lists to
        perfbench/expected/rag_serve.json.

Run from the repository root.
"""
import hashlib
import json
import sys
from decimal import Decimal

import duckdb

EXPECTED = "perfbench/expected"


def cell(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        return "%.6f" % v
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def canon_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    row_hashes = sorted(
        hashlib.sha256("\u0001".join(cell(r[i]) for i in order).encode()).hexdigest()
        for r in rows)
    body = ",".join(sorted(columns)) + "\n" + "\n".join(row_hashes)
    return hashlib.sha256(body.encode()).hexdigest()


def corpus():
    sqls = json.load(open(f"{EXPECTED}/oracle_sql.json"))
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('perfbench/data/{t}.parquet')")
    out = {"sha256": {}, "rows": {}}
    for name, sql in sorted(sqls.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out["sha256"][name] = canon_hash(cols, rows)
        out["rows"][name] = len(rows)
    with open(f"{EXPECTED}/corpus_dedup.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(out["rows"]))


def serve(passes_path):
    lists = {}
    for line in open(passes_path):
        r = json.loads(line)
        lists[r["id"]] = r["passages"]
    questions = json.load(open("src/test/resources/eval/test_questions.json"))
    assert set(lists) == {q["_id"] for q in questions}, "pass must answer every question once"
    ks = (1, 2, 5, 10, 15, 20)
    grid = {}
    for k in ks:
        per_q = []
        for q in questions:
            gold = {sf[0] for sf in q["supporting_facts"]}
            per_q.append(len(gold & set(lists[q["_id"]][:k])) / len(gold))
        grid[f"recall_at_{k}"] = round(sum(per_q) / len(per_q), 6)
    want = json.load(open("EVALGRID.json"))["graph_rag"]
    if grid != want:
        sys.exit(f"recall grid {grid} differs from EVALGRID.json graph_rag {want}")
    with open(f"{EXPECTED}/rag_serve.json", "w") as f:
        json.dump(lists, f, indent=0, sort_keys=True)
        f.write("\n")
    print(json.dumps({"questions": len(lists), "graph_rag": grid}))


if __name__ == "__main__":
    if sys.argv[1:2] == ["corpus"]:
        corpus()
    elif sys.argv[1:2] == ["serve"] and len(sys.argv) == 3:
        serve(sys.argv[2])
    else:
        sys.exit(__doc__)
