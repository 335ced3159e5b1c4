#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of graft):

1. the generator: the same seed gives identical input checksums, a
   different seed different ones;
2. the oracle gate: an output equal to the DuckDB oracle passes, the
   same output with one value perturbed fails, and the planted-duplicate
   check fails when a planted pair is missing;
3. the tracer: in a traced run the steps' task time sums to the
   listener's total for the traced ops, and the step spans cover
   nearly all of the traced ops' wall time.

    python3 perfbench/selftest.py   # 3 makes a traced run, ~90 s
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

FAILURES = []


def check(name, ok, detail=""):
    print(f"{'ok  ' if ok else 'FAIL'} {name}{'' if ok else ': ' + detail}", flush=True)
    if not ok:
        FAILURES.append(name)


def generator_is_deterministic(tmp):
    sums = {}
    for label, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = os.path.join(tmp, label)
        for w in run.SIZES:
            run.generate(w, seed, os.path.join(d, w))
        sums[label] = gen.checksum(gen.files_under(d))
    check("same seed, identical inputs", sums["a"] == sums["b"])
    check("different seed, different inputs", sums["a"] != sums["c"])


def oracle_gate_rejects_perturbation(tmp):
    import duckdb
    import pandas as pd
    data = os.path.join(tmp, "gate")
    run.generate("station_cycle", 5, data)
    out = os.path.join(tmp, "out")
    os.makedirs(out)
    subprocess.run(["java", "-cp", run.build(), "graftbench.Main", "oracle-sql", f"out={out}",
                    "names=q_agg_month"], check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)["q_agg_month"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{data}/events.parquet/*.parquet')")
    good = con.execute(sql).df()
    bad = good.copy()
    col = "filled" if "filled" in bad.columns else bad.columns[-1]
    i = bad[col].first_valid_index()
    bad.loc[i, col] = bad.loc[i, col] + 0.5
    gates = []
    for name, df in (("good", good), ("bad", bad)):
        path = os.path.join(out, f"timed_q_agg_month_{name}")
        os.makedirs(path)
        df.to_parquet(os.path.join(path, "part.parquet"))
        gates.append({"name": "timed_q_agg_month", "dir": path, "data": data, "check": "oracle"})
    res = run.oracle_checks({"gate": gates}, out, {})
    check("oracle gate accepts the oracle's own answer", res[0][1] is None, str(res[0][1]))
    check("oracle gate rejects a perturbed value", res[1][1] is not None)

    planted = {5: 2, 9: 5}
    pairs = pd.DataFrame({"id_a": [2, 5], "id_b": [5, 9]})
    facts = {"planted_docs": planted, "docs": 10, "increment_docs": 1}
    check("planted check accepts complete pairs", run.planted_check("q_dedup_jaccard", pairs, facts) is None)
    check("planted check rejects a missing pair",
          run.planted_check("q_dedup_jaccard", pairs.iloc[:1], facts) is not None)


def tracer_accounts_for_task_time():
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "corpus_curate",
                           "--seed", "5", "--seconds", "1", "--trace", "1"],
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(lines[-2])["detail"]
    metrics = json.loads(lines[-1])["metrics"]
    steps, total = detail["steps_task_ms"], detail["listener_task_ms"]
    check("traced run is correct", proc.returncode == 0)
    check("step task_ms sums to the listener total", total > 0 and abs(steps - total) <= 0.01 * total,
          f"steps {steps} vs listener {total}")
    cov = metrics["trace.coverage"]["value"]
    check("step spans cover the traced ops' wall time", 0.9 <= cov <= 1.0, f"coverage {cov:.3f}")


def main():
    os.makedirs(os.path.join(run.ROOT, ".bench_build"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(run.ROOT, ".bench_build"))
    try:
        generator_is_deterministic(tmp)
        oracle_gate_rejects_perturbation(tmp)
        tracer_accounts_for_task_time()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(FAILURES)} failed" if FAILURES else "all passed")
    sys.exit(1 if FAILURES else 0)


if __name__ == "__main__":
    main()
