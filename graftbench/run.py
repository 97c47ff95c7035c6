"""The graft benchmark: one command per workload run.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the program from source (once per checkout), generates the
workload's inputs from the seed, runs the JVM program `graftbench.Main`
with its output going to a log file, checks the outputs, prints every
metric as `name value unit` and, last, one JSON line with `correct`,
`attempted`, `failed` and the metrics that BENCHMARK.json lists for the
mode: the end-to-end metrics untraced, the per-layer metrics traced.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("beamline_batch", "corpus_curation", "gate_mix")
JVM_TIMEOUT_S = 160


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def file_hash(*paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def inputs(workload, seed, root):
    """Generates the run's inputs; returns the data directory."""
    if workload == "gate_mix":
        # fixed tables (the seed only orders the queries), generated once
        d = os.path.join(root, "gate_tables")
        stamp = os.path.join(d, ".stamp")
        want = file_hash(os.path.join(HERE, "gen.py"))
        if not (os.path.exists(stamp) and open(stamp).read() == want):
            shutil.rmtree(d, ignore_errors=True)
            gen.gate_tables(d)
            with open(stamp, "w") as fh:
                fh.write(want)
        return d
    d = os.path.join(root, f"{workload}-{seed}")
    shutil.rmtree(d, ignore_errors=True)
    if workload == "beamline_batch":
        gen.beamline(d, seed)
    else:
        gen.corpus(d, seed)
    return d


def run_jvm(args, data, work, cores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java(tmp) + [
        "graftbench.Main", "--workload", args.workload, "--data", data, "--out", work,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--seed", str(args.seed), "--cores", str(cores),
        "--queries", os.path.join(HERE, "gate_queries.json")]
    # The JVM's own output goes to a file: nothing can interleave
    # with, prefix or reorder the lines this script prints.
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"graftbench.Main timed out after {JVM_TIMEOUT_S}s; see {work}/jvm.log")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"graftbench.Main exited {rc}:\n{tail}")
    with open(os.path.join(work, "jvm.log")) as fh:
        for line in fh:
            if line.startswith("[main]"):
                log(line.rstrip())
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


# -- gate_mix oracle check: the comparison tools/verify_local.py makes ---------

def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    vals = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(([cols[i] for i in order], vals)).encode()).hexdigest()
    return h, len(rows)


def check_gates(work, tables, cache_dir):
    """Returns {query: None if its result matches, else the reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    with open(os.path.join(HERE, "gate_queries.json")) as fh:
        names = json.load(fh)
    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    for name in names:
        qdir = os.path.join(work, "results", name)
        if not os.path.isdir(qdir):
            out[name] = "no result"
            continue
        rel = con.sql(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
        got, n = _digest(rel.columns, rel.fetchall())
        if name not in oracles:
            out[name] = None if n > 0 else "empty result"
            continue
        sql = oracles[name]
        key = hashlib.sha256((sql + file_hash(os.path.join(tables, ".stamp"))).encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cached):
            with open(cached) as fh:
                want, m = json.load(fh)
        else:
            ora = con.sql(sql)
            want, m = _digest(ora.columns, ora.fetchall())
            with open(cached, "w") as fh:
                json.dump([want, m], fh)
        out[name] = None if (got, n) == (want, m) else f"hash mismatch ({n} vs {m} rows)"
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build.build()
    root = build.build_dir()
    cores = max(1, min(4, os.cpu_count() or 1))
    work = os.path.join(root, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.monotonic()
    data = inputs(args.workload, args.seed, os.path.join(root, "data"))
    t1 = time.monotonic()
    res = run_jvm(args, data, work, cores)
    t2 = time.monotonic()

    attempted, failed = res["attempted"], res["failed"]
    problems = [f"operation failed: {n}" for n in res["failed_ops"]]
    if args.workload == "gate_mix":
        bad = {q: why for q, why in check_gates(work, data, os.path.join(root, "oracle")).items() if why}
        for q, why in sorted(bad.items()):
            problems.append(f"{q}: {why}")
            if q not in res["failed_ops"]:
                failed += res["ops_by_name"].get(q, 0)
    metrics = res["metrics"]
    metrics["error_rate"] = {"value": failed / max(1, attempted), "unit": "frac"}
    # beamline and curation check their outputs in the JVM; a gate
    # query is checked here, against its oracle
    checked, ok = (attempted, attempted - failed) if args.workload == "gate_mix" \
        else (res["checked"], res["ok"])
    metrics["ok_frac"] = {"value": ok / max(1, checked), "unit": "frac"}
    if args.trace:
        os.makedirs(os.path.join(root, "traces"), exist_ok=True)
        shutil.move(os.path.join(work, "spans.jsonl"),
                    os.path.join(root, "traces", f"{args.workload}-{args.seed}.jsonl"))
    if args.workload != "gate_mix":
        shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)

    log(f"[run] inputs {t1 - t0:.1f} s, program {t2 - t1:.1f} s, checks {time.monotonic() - t2:.1f} s")
    for p in problems:
        log(f"[check] {p}")
    print(f"# workload {args.workload} seed {args.seed} trace {args.trace} "
          f"cores {cores} attempted {attempted} failed {failed}")
    for name in sorted(metrics):
        m = metrics[name]
        if m["value"] is not None:
            print(f"{name} {m['value']:.6g} {m['unit']}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [w["name"] for w in wanted if metrics.get(w["name"], {}).get("value") is None]
    if missing:
        raise SystemExit(f"metrics not measured: {', '.join(missing)}")
    out = {"correct": failed == 0 and not problems, "attempted": attempted, "failed": failed,
           "metrics": {w["name"]: {"value": metrics[w["name"]]["value"], "unit": w["unit"]}
                       for w in wanted}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
