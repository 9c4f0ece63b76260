"""Self-test of the benchmark, at a tiny size (5 to 8 minutes in all).

    python3 perfbench/selftest.py

1. The DuckDB oracle's shared corpus tables give the same answers as the
   unmodified oracle_sql statements.
2. Each workload, untraced and traced, exits 0 and prints every metric
   of BENCHMARK.json with its unit as a finite number.
3. Corrupted expected answers in the oracle cache make a rerun of the
   same seed fail: exit code 1, correct false, failed >= 1.
"""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS, SEED, SECONDS = 300, 7, 2


def run(workload: str, trace: int) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(SEED), "--seconds", str(SECONDS),
         "--trace", str(trace), "--docs", str(DOCS)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(out: dict, spec: list[dict]) -> None:
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(out)}")
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        raise AssertionError(f"metrics/units differ: {got} vs {want}")
    for k, v in out["metrics"].items():
        if not (isinstance(v["value"], (int, float)) and math.isfinite(v["value"])):
            raise AssertionError(f"{k} = {v['value']!r}")


def check_oracle_tables() -> None:
    import duckdb
    import numpy as np

    from perfbench import inputs
    from perfbench.oracle import Oracle
    from data_text_search_spark import oracle_sql as osql

    rs = np.random.RandomState(SEED)
    corpus = inputs.make_docs(rs, 0, DOCS)
    ops = [op for op in inputs.interactive_ops(rs, 2) if op["kind"] != "search"]
    oracle = Oracle(corpus, None)
    plain = duckdb.connect()
    plain.register("documents", corpus)
    for op in ops:
        if op["kind"] == "query_string":
            sql = osql.query_string_sql(op["q"], alpha=-5.0)
        elif op["kind"] == "search_msm":
            sql = osql.msm_sql(op["q"], op["m"], alpha=-5.0)
        elif op["kind"] == "fuzzy_search":
            sql = osql.fuzzy_search_sql(op["q"], op["max_mistakes"])
        elif op["kind"] == "phrase_count":
            sql = osql.phrase_search_sql(op["q"])
        else:
            continue
        want = [[int(v) if isinstance(v, int) else float(v) for v in r]
                for r in plain.execute(sql).fetchall()]
        if oracle.expected(op) != want:
            raise AssertionError(f"shared tables change the answer of {op}")
    oracle.close()
    plain.close()


def main() -> int:
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_oracle_tables()
    print("oracle tables: ok", flush=True)
    for w in (w["name"] for w in bench["workloads"]):
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            rc, out = run(w, trace)
            if rc != 0 or not out["correct"] or out["failed"]:
                raise AssertionError(f"{w} trace={trace}: rc={rc} {out}")
            check_metrics(out, spec)
            print(f"{w} trace={trace}: ok ({out['attempted']} ops)", flush=True)

    # corrupt the expected answers: a rerun of the same seed must fail
    w = "search"
    [cache] = glob.glob(os.path.join(ROOT, ".perfbench", "oracle",
                                     f"{w}-seed{SEED}-docs{DOCS}-base-*.json"))
    with open(cache) as f:
        answers = json.load(f)
    for rows in answers.values():
        if rows:
            rows[0][0] += 1                      # wrong doc id in row 1
        else:
            rows.append([-1, 0.0])               # a row that cannot exist
    with open(cache, "w") as f:
        json.dump(answers, f)
    try:
        rc, out = run(w, 0)
    finally:
        os.remove(cache)
    if rc == 0 or out["correct"] or out["failed"] < 1:
        raise AssertionError(f"corrupted answer not caught: rc={rc} {out}")
    print("corrupted expected answer: caught", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
