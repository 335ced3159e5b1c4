#!/usr/bin/env python3
"""graft benchmark: generated station-cycle and corpus-curation
workloads, timed end to end, with a layer-traced mode.

    python3 perfbench/run.py --workload station_cycle --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 1

Run from the repository root. The first run builds graft and the
harness from source with sbt (offline); later runs reuse the build until
a source file changes. Each run generates its inputs from the seed,
runs one JVM, checks the outputs against the DuckDB oracle, and prints
a detail line and then the result object as the last line. Everything it
writes stays under `.bench_build/perfbench/` and is removed at the end.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

# Workload sizes (described in README.md and the workloads' `why`).
SIZES = {
    "station_cycle": {"stations": 32, "days": 730},
    "corpus_curate": {"docs": 1300, "embeddings": 3000, "ann_queries": 64, "request_docs": 200,
                      "gate_docs": 120},
}
GATE_FIRST_ID = 5_000_000
SETUPS = 7
JVM_HEAP = "3g"
RUN_LIMIT_S = 150  # the JVM's limit; generation and checks fit in the rest of 180 s
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def preflight():
    """The benchmark measures the graft sources next to it; without them
    (or without sbt) there is nothing to run."""
    missing = [p for p in ("build.sbt", "src/main/scala/graft", "tools/check.py", "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a graft checkout (missing {', '.join(missing)}); nothing to measure")
        sys.exit(2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java are required")
        sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for base in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs[:] = sorted(d for d in dirs if d not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in ("build.sbt", "perfbench/build.sbt"):
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; returns the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file, cp_file = os.path.join(WORK, "stamp"), os.path.join(WORK, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building graft and the harness with sbt (first run of a checkout)")
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True)
    try:
        output, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("build ran out of time")
        sys.exit(3)
    lines = [l for l in output.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(output[-4000:])
        log("build failed")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.0f} s")
    return cp


def generate(workload, seed, data):
    """Inputs for one run; returns (facts for the JVM, facts for the checks)."""
    import gen
    import pyarrow as pa
    t0 = time.time()
    size = SIZES[workload]
    params, facts = {}, {}
    if workload == "station_cycle":
        ev = gen.events(seed, size["stations"], size["days"])
        gen.write_parts(ev, os.path.join(data, "events.parquet"), 4)
        facts["events"] = ev.num_rows
        params = {"start": gen.EVENTS_START.isoformat(), "base_days": size["days"],
                  "stations": size["stations"]}
    else:
        # the gate corpus rides along in the timed corpus under its own
        # ids and vocabulary; the oracle checks the outputs' gate rows
        docs, planted = gen.documents(seed, size["docs"])
        gate_docs, gate_planted = gen.documents(seed + 1_000_003, size["gate_docs"],
                                                first_id=GATE_FIRST_ID, suffix="q")
        gen.write(pa.concat_tables([docs, gate_docs]), os.path.join(data, "documents.parquet"))
        gen.write(gate_docs, os.path.join(data, "gate", "documents.parquet"))
        facts["planted_docs"] = {**planted, **gate_planted}
        facts["docs"] = size["docs"] + size["gate_docs"]
        facts["increment_docs"] = (size["docs"] + 9) // 10 + (size["gate_docs"] + 9) // 10
        emb, facts["planted"] = gen.embeddings(seed, size["embeddings"], size["ann_queries"])
        gen.write(emb, os.path.join(data, "embeddings.parquet"))
        gen.write(gen.request_documents(seed, docs.column("text").to_pylist(), size["request_docs"]),
                  os.path.join(data, "requests", "documents.parquet"))
        params = {"ann_queries": size["ann_queries"], "request_docs": size["request_docs"],
                  "gate_first_id": GATE_FIRST_ID}
    facts["checksum"] = gen.checksum(gen.files_under(data))
    facts["gen_s"] = time.time() - t0
    return params, facts


def run_jvm(cp, workload, seed, seconds, trace, data, out, scratch, params, deadline):
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    args = {"data": data, "out": out, "scratch": scratch, "seconds": seconds, "trace": trace,
            "seed": seed, "cores": cores(), "setups": SETUPS, **params}
    # no hsperfdata file in the system temp dir: the run writes only here
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.level=ERROR"] + opens +
           ["-cp", cp, "graftbench.Main", workload] + [f"{k}={v}" for k, v in args.items()])
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True, start_new_session=True)
    try:
        output, _ = proc.communicate(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log("the JVM ran out of time")
        return None
    if proc.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        sys.stderr.write(output[-4000:])
        log(f"the JVM failed with code {proc.returncode}")
        return None
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_checks(result, out, facts):
    """Run every check the JVM asked for: saved outputs against the
    DuckDB oracle (the registered oracle SQL over the same inputs) or
    against the planted duplicates. Returns a list of (name, error-or-None)."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import compare

    sql = {}
    if os.path.exists(os.path.join(out, "oracle_sql.json")):
        with open(os.path.join(out, "oracle_sql.json")) as f:
            sql = json.load(f)
    cons = {}

    def con_for(data):
        if data not in cons:
            con = duckdb.connect()
            con.execute(f"SET threads TO {cores()}")
            for t in ("events", "documents", "embeddings"):
                path = os.path.join(data, f"{t}.parquet")
                if os.path.isdir(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')")
                elif os.path.exists(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            cons[data] = con
        return cons[data]

    results = []
    for g in result["gate"]:
        name, query = g["name"], g["name"].split("_", 1)[1]
        try:
            got = pd.read_parquet(g["dir"])
            if g["check"] == "ann":
                err = ann_recall(got, facts["planted"])
            elif g["check"] == "planted":
                err = planted_check(query, got, facts)
            else:
                err = compare(query, got, con_for(g["data"]).execute(sql[query]).df())
            results.append((name, err))
        except Exception as e:  # a check that cannot run is a failed check
            results.append((name, f"{type(e).__name__}: {e}"[:300]))
    return results


ANN_RECALL_FLOOR = 0.9


def ann_recall(topk, planted):
    """Share of queries whose planted near-duplicate is in their top-k."""
    got = topk.groupby("query_id")["nb_id"].apply(set).to_dict()
    hits = sum(1 for q, p in planted.items() if p in got.get(int(q), set()))
    recall = hits / len(planted)
    return None if recall >= ANN_RECALL_FLOOR else f"planted-duplicate recall {recall:.3f} < {ANN_RECALL_FLOOR}"


def planted_check(name, got, facts):
    """Invariants of the timed corpus outputs: every planted duplicate
    is paired with and in one component with its source, and every
    document (or increment document) has exactly one output row."""
    planted = facts["planted_docs"]
    if name == "q_dedup_jaccard":
        have = set(zip(got["id_a"], got["id_b"]))
        miss = [(s, d) for d, s in planted.items() if (min(s, d), max(s, d)) not in have]
        return None if not miss else f"{len(miss)} planted pairs missing, e.g. {miss[:3]}"
    if name == "q_dedup_components":
        comp = dict(zip(got["doc_id"], got["comp"]))
        if len(comp) != facts["docs"]:
            return f"{len(comp)} rows for {facts['docs']} documents"
        bad = [(s, d) for d, s in planted.items() if comp.get(d) != comp.get(s)]
        return None if not bad else f"{len(bad)} planted pairs split, e.g. {bad[:3]}"
    want = facts["increment_docs"] if name == "q_dedup_snapshot_cycle" else facts["docs"]
    n = got["doc_id"].nunique()
    return None if n == want == len(got) else f"{len(got)} rows / {n} ids for {want} documents"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it
    (nearest rank): (percentile, value), or (None, None) below 20
    samples."""
    if len(xs) < 20:
        return None, None
    s = sorted(xs)
    q = int(100 * (1 - 10 / len(s)))
    return q, s[min(len(s) - 1, max(0, -(-q * len(s) // 100) - 1))]


def requests_by_kind(t):
    """Timed request latencies by kind: key `request` or `request.<kind>`."""
    return {k: v for k, v in t.items() if k.split(".")[0] == "request"}


def request_ms(t):
    """Mean over the request kinds of each kind's median latency. The
    kinds cost differently, so a pooled median would fall between two
    kinds and jump from run to run."""
    kinds = requests_by_kind(t)
    return statistics.mean(median(v) for v in kinds.values()) if kinds else 0.0


def detail_metrics(workload, r, facts):
    """Every end-to-end figure of the workload, by the names of
    perfbench/README.md (the result line carries the BENCHMARK.json
    subset)."""
    t = r["timings"]
    by_kind = requests_by_kind(t)
    req = [x for v in by_kind.values() for x in v]
    q, v = tail(req)
    d = {"setup_s": median(r["setup_ms"]) / 1e3, "setup_cold_s": r["setup_ms"][0] / 1e3,
         "gen_s": facts["gen_s"], "first_pass_s": median(t.get("pass", [])) / 1e3,
         "cache_peak_mb": r["cache_peak_mb"], "cache_left_mb": r["cache_left_mb"],
         "scratch_left_mb": r["scratch_left_mb"],
         "error_rate": r["failed"] / max(1, r["attempted"]),
         "input_checksum": facts["checksum"], "cores": r["cores"]}
    kind = "lookup" if workload == "station_cycle" else "request"
    d.update({"request_ms": request_ms(t), f"{kind}_p50_ms": median(req), f"{kind}s": len(req)})
    if len(by_kind) > 1:
        d["request_p50_ms_by_kind"] = {k.split(".", 1)[1]: median(v) for k, v in by_kind.items()}
    if q is not None:
        d[f"{kind}_p{q}_ms"] = v
    if t.get("warm_pass"):
        d["batch_s"] = median(t["warm_pass"]) / 1e3
    return d


def e2e_metrics(spec, r):
    t = r["timings"]
    values = {"setup_s": median(r["setup_ms"]) / 1e3,
              "pass_ms": median(t.get("pass", [])),
              "request_ms": request_ms(t),
              "cache_peak_mb": r["cache_peak_mb"]}
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}


def layer_metrics(spec, r):
    layers, counters, t = r["layers"], r["counters"], r["timings"]
    derived = {"trace.overhead_ms": median(t.get("traced_warm_pass", [])) - median(t.get("warm_pass", [])),
               "trace.coverage": r["coverage"]}
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        layer, _, metric = name.rpartition(".")
        if name in counters:
            v = median(counters[name])
        elif name in derived:
            v = derived[name]
        else:
            v = layers.get(layer, {}).get(metric, 0.0)
        out[name] = {"value": v, "unit": m["unit"]}
    return out


def run_one(spec, cp, workload, seed, seconds, trace, deadline):
    run_dir = os.path.join(WORK, "run", f"{workload}-{seed}-{os.getpid()}")
    data, out, scratch = (os.path.join(run_dir, x) for x in ("data", "out", "scratch"))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        params, facts = generate(workload, seed, data)
        t1 = time.time()
        r = run_jvm(cp, workload, seed, seconds, trace, data, out, scratch, params, deadline)
        if r is None:
            return None
        t2 = time.time()
        checks = oracle_checks(r, out, facts)
        log(f"generate {t1 - t0:.1f} s, jvm {t2 - t1:.1f} s "
            f"({', '.join(f'{k} {v:.1f}' for k, v in r['phases_s'].items())}), "
            f"checks {time.time() - t2:.1f} s")
        if trace:
            keep = os.path.join(WORK, "trace", workload)
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for f in ("spans.jsonl", "plans", "result.json"):
                if os.path.exists(os.path.join(out, f)):
                    shutil.move(os.path.join(out, f), keep)
            log(f"spans and executed plans kept in {os.path.relpath(keep, ROOT)}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    bad = [(n, e) for n, e in checks if e]
    for n, e in checks:
        log(f"{'OK  ' if not e else 'FAIL'} {n}{'' if not e else ': ' + e}")
    for e in r["errors"]:
        log(f"error: {e}")
    detail = detail_metrics(workload, r, facts)
    if trace:
        metrics = layer_metrics(spec, r)
        detail["steps_task_ms"], detail["listener_task_ms"] = r["steps_task_ms"], r["listener_task_ms"]
    else:
        metrics = e2e_metrics(spec, r)
    print(json.dumps({"workload": workload, "seed": seed, "trace": trace, "detail": detail}))
    return {"correct": not bad and r["failed"] == 0,
            "attempted": r["attempted"] + len(checks),
            "failed": r["failed"] + len(bad),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    preflight()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    todo = names if a.workload == "all" else [a.workload]
    if any(w not in names for w in todo):
        log(f"unknown workload {a.workload}; one of {', '.join(names)} or all")
        sys.exit(2)
    cp = build()
    results = []
    for w in todo:
        res = run_one(spec, cp, w, a.seed, a.seconds, a.trace, time.time() + RUN_LIMIT_S)
        if res is None:
            sys.exit(1)
        results.append(res)
        if a.workload == "all":
            print(json.dumps({"workload": w, **res}))
    if a.workload == "all":
        res = {"correct": all(r["correct"] for r in results),
               "attempted": sum(r["attempted"] for r in results),
               "failed": sum(r["failed"] for r in results),
               "metrics": {f"{w}.{k}": v for w, r in zip(todo, results) for k, v in r["metrics"].items()}}
    print(json.dumps(res), flush=True)
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
