#!/usr/bin/env python3
"""graft product-path benchmark.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload graph_analytics --seed 1 --seconds 30 --trace 1
    python3 perfbench/run.py --selftest

Builds graft from source (perfbench/build.py), generates the workload's
seeded input (perfbench/gen.py), runs the product path in one JVM on
local[<cores>] -- bulk ingest, incremental upserts with reads after each,
graph analytics, then the closed-loop query mix -- checks every result
against DuckDB (perfbench/checks.py), and prints as its last stdout line
one JSON object: correct, attempted, failed and the metrics (end-to-end
with --trace 0, per-layer with --trace 1). See perfbench/README.md.

Run output goes to a per-run directory under .bench_build/runs/, removed
at the end; a traced run keeps its spans in .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

# workload -> (foreign-key distribution of its input, read phase)
WORKLOADS = {"query_mix": ("zipf", "queries"), "graph_analytics": ("uniform", "analytics")}
SF = 0.002            # bulk input scale (sf0.1-shaped, 2 % of its rows)
BATCHES = 2           # incremental batches after the bulk load
BATCH_CUSTOMERS = 20  # customer keys per batch; orders get ten times as many
PROBES = 4            # updated and new keys of customer and orders read after each batch
PR_ITERATIONS, LPA_ROUNDS, SSSP_HOPS = 10, 5, 6
RUN_LIMIT_S = 172     # a run, once built, ends within this many seconds
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
ALGOS = ["pagerank", "lpa", "sssp"]
QUERY_KINDS = ["node", "agg", "nbr1", "nbr2", "traverse"]

END_TO_END_UNITS = {
    "setup_s": "s", "bulk_rows_per_s": "rows/s", "upsert_batch_p50_s": "s",
    "read_after_write_p50_ms": "ms", "store_bytes_per_input_byte": "ratio",
    "read_phase_s": "s",
}


def run_jvm(classpath, plan, run_dir, deadline):
    plan_file = os.path.join(run_dir, f"plan-{plan['trace']}.json")
    result_file = os.path.join(run_dir, f"result-{plan['trace']}.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *opens, f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dderby.system.home={run_dir}", "-Dspark.sql.session.timeZone=UTC",
           "-cp", os.pathsep.join(classpath), "graftbench.Main", plan_file, result_file]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, f"jvm-{plan['trace']}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("benchmark JVM exceeded its time limit")
    sys.stdout.write(out)
    with open(log) as f:
        text = f.read()
    # the JVM's progress notes
    sys.stdout.write("".join(x + "\n" for x in text.splitlines() if x.startswith("[perfbench")))
    if p.returncode != 0:
        raise RuntimeError(f"benchmark JVM exited with {p.returncode}:\n{text[-3000:]}")
    with open(result_file) as f:
        return json.load(f)


def prepare(run_dir, workload, seed, seconds, trace, cores, phases=None):
    """Generate the inputs and the plan; returns (plan, truth, facts)."""
    dist, phase = WORKLOADS[workload]
    t0 = time.time()
    base = f"{run_dir}/input/base"
    sizes = gen.write_base(base, seed, dist, SF)
    batches = []
    for b in range(1, BATCHES + 1):
        d = f"{run_dir}/input/batch_{b}"
        keys = gen.write_batch(d, seed, dist, sizes, b, BATCH_CUSTOMERS, PROBES)
        # after each batch: updated and new customers and orders
        batches.append({"dir": d, "probes": [[v, k] for v in ("customer", "orders") for k in keys[v]]})
    truth = checks.Truth(base, [b["dir"] for b in batches])
    ops, source = checks.query_sequence(truth, seed, sizes, n_blocks=10)
    facts = {
        "gen_s": time.time() - t0,
        "input_rows": sum(truth.rows(f"SELECT count(*) FROM read_parquet('{base}/{t}.parquet/*.parquet')")
                          [0][0] for t in gen.TABLES),
        "input_bytes": gen.parquet_bytes(base, gen.TABLES),
        "batch_bytes": sum(gen.parquet_bytes(b["dir"], gen.BATCH_TABLES) for b in batches),
    }
    plan = {"run_dir": run_dir, "cores": cores, "seed": seed, "seconds": seconds, "trace": trace,
            "phases": phases or [phase], "base": base, "batches": batches,
            "ops": ops, "min_ops": len(checks.BLOCK), "sssp_source": source,
            "pr_iterations": PR_ITERATIONS, "lpa_rounds": LPA_ROUNDS, "sssp_hops": SSSP_HOPS}
    return plan, truth, facts


def check_pass(p, plan, truth):
    """Mark each sample of pass p that failed or is wrong; return the
    failure messages."""
    def mark(sample, why):
        if not sample.get("error"):
            sample["error"] = why
    # ingest: store and write-report counts against distinct counts of the input
    want = truth.collection_counts()
    got = checks.store_counts(p["store_root"])
    errs = [f"store {k}: {got.get(k)}, want {v}" for k, v in sorted(want.items()) if got.get(k) != v]
    errs += [f"store has unexpected collection {k}" for k in got if k not in want]
    errs += [f"write report {k}: {p['bulk_report'].get(k)} documents, want {v}"
             for k, v in sorted(truth.bulk_documents().items()) if p["bulk_report"].get(k) != v]
    if p["dropped_unkeyed"]:
        errs.append(f"write reports dropped {p['dropped_unkeyed']} unkeyed documents")
    p["ingest_errors"] = errs
    # reads after each batch see that batch's values
    reads = iter(p["reads"])
    for b, batch in enumerate(plan["batches"], 1):
        for vertex, key in batch["probes"]:
            s = next(reads)
            if s["lines"] != truth.batch_rows(b, vertex, key):
                mark(s, f"read after batch {b} of {vertex} {key} saw {s['lines']}")
    # queries against independent joins over the input
    queries = [s for s in p["calls"] if s["kind"] in QUERY_KINDS]
    for op, s in zip(plan["ops"], queries):
        want_lines = truth.expected(op)
        if s["lines"] != want_lines:
            mark(s, f"{op}: {len(s['lines'])} lines, want {len(want_lines)}; "
                    f"first {s['lines'][:2]} vs {want_lines[:2]}")
    # graph: PageRank mass, and the last outputs against graft's DuckDB oracles
    last = {s["kind"]: s for s in p["calls"] if s["kind"] in ALGOS}
    d = p["oracle_dir"]
    if last:
        total, n = truth.rows(
            f"SELECT sum(rank), count(*) FROM read_parquet('{d}/pagerank.parquet/*.parquet')")[0]
        e = truth.rows(f"SELECT count(*) FROM read_parquet('{d}/edges.parquet/*.parquet')")[0][0]
        err = checks.pagerank_mass_error(int(total), n, e, PR_ITERATIONS)
        if err:
            mark(last["pagerank"], err)
        for msg in checks.oracle_mismatches(checks.oracle_pairs(d)):
            mark(last[msg.split(":")[0]], msg)
    return errs + [f"{s['kind']}: {s['error']}" for s in p["reads"] + p["calls"] if s["error"]]


def first_unit(p):
    """The read phase's fixed unit of work: the first query block, or the
    first round of the three algorithms."""
    n = len(checks.BLOCK) if p["calls"][0]["kind"] in QUERY_KINDS else len(ALGOS)
    return p["calls"][:n]


def end_to_end(res, p, facts):
    values = {
        "setup_s": res["session_s"],
        "bulk_rows_per_s": facts["input_rows"] / p["bulk_s"],
        "upsert_batch_p50_s": statistics.median(p["batch_s"]),
        "read_after_write_p50_ms": statistics.median(s["s"] * 1000 for s in p["reads"]),
        "store_bytes_per_input_byte": p["store_bytes"] / (facts["input_bytes"] + facts["batch_bytes"]),
        "read_phase_s": sum(s["s"] for s in first_unit(p)),
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def per_layer(res, plain, facts):
    t = res["pass"]
    layers = dict(res["layers"])
    for op in QUERY_KINDS:
        calls = layers.pop(f"query.{op}.calls")
        elements = sum(len(s["lines"]) for s in t["calls"] if s["kind"] == op)
        layers[f"query.{op}.rows_read_per_result"] = \
            layers[f"query.{op}.rows_read"] * calls / max(1, elements)
    for k in checks.STORED_COLLECTIONS:
        layers[f"pipeline.rows_out.{k}"] = t["rows_out"].get(k, 0)
    layers["store.files_written"] = t["store_files"]
    layers["store.write_amplification"] = t["batch_written_bytes"] / facts["batch_bytes"]
    layers["gen_s"] = facts["gen_s"]
    layers["trace.overhead_pct"] = overhead_pct(plain["pass"], t)
    return {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}


def layer_unit(k):
    if k.startswith("pipeline.rows_out.") or k.endswith(("rows", "rows_read")):
        return "rows"
    if "bytes" in k:
        return "bytes"
    for suffix, unit in (("_s", "s"), ("jobs", "count"), ("tasks", "count"), ("stages", "count"),
                         ("files_written", "count"), ("_pct", "%")):
        if k.endswith(suffix):
            return unit
    return "ratio"


def overhead_pct(a, b):
    """Traced pass b against untraced pass a, each the first pass of its
    own JVM: wall time of the ingest phase."""
    def wall(p):
        return p["bulk_s"] + sum(p["batch_s"])
    return 100 * (wall(b) / wall(a) - 1)


def run(a, classpath, run_dir, cores, deadline):
    plan, truth, facts = prepare(run_dir, a.workload, a.seed, a.seconds, 0, cores)
    if a.trace:
        # an untraced ingest, then the traced pass, each in a cold JVM of its
        # own; the traced pass runs both read phases, its workload's first,
        # so that every layer is measured
        plain = run_jvm(classpath, {**plan, "phases": []}, run_dir, deadline)
        both = plan["phases"] + [p for _, p in WORKLOADS.values() if p not in plan["phases"]]
        res = run_jvm(classpath, {**plan, "trace": 1, "phases": both}, run_dir, deadline)
    else:
        res = run_jvm(classpath, plan, run_dir, deadline)
    t_check = time.time()
    checked = res["pass"]
    fails = check_pass(checked, plan, truth)
    facts["check_s"] = time.time() - t_check
    samples = checked["reads"] + checked["calls"]
    attempted = 1 + len(checked["batch_s"]) + len(samples)
    failed = (1 if checked["ingest_errors"] else 0) + sum(1 for s in samples if s["error"])
    if a.trace:
        traces = os.path.join(build.OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.json"),
                    os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
        metrics = per_layer(res, plain, facts)
    else:
        metrics = end_to_end(res, checked, facts)
    counts = {}
    for s in checked["calls"]:
        counts[s["kind"]] = counts.get(s["kind"], 0) + 1
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "cores": cores, "scale": SF,
        "input_rows": facts["input_rows"], "input_bytes": facts["input_bytes"],
        "gen_s": round(facts["gen_s"], 3),
        "pass_s": checked["wall_s"], "check_s": round(facts["check_s"], 3),
        "samples": {**counts, "upsert_batch": len(checked["batch_s"]),
                    "read_after_write": len(checked["reads"])},
        "read_after_write_ms": [round(s["s"] * 1000, 1) for s in checked["reads"]],
        "call_p50_ms": {k: statistics.median(s["s"] * 1000 for s in checked["calls"] if s["kind"] == k)
                        for k in counts},
        "failures": fails[:20]}))
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def selftest(classpath, run_dir, cores, deadline):
    """The generator is deterministic per seed, and every check accepts
    graft's results and rejects a deliberately wrong one."""
    ok = gen.selfcheck(os.path.join(run_dir, "gen"))
    wl = os.path.join(run_dir, "wl")
    os.makedirs(wl)
    plan, truth, _ = prepare(wl, "query_mix", 5, 1, 0, cores, phases=["analytics", "queries"])
    p = run_jvm(classpath, plan, wl, deadline)["pass"]
    results = {"accepts_graft_results": not check_pass(p, plan, truth)}

    def first(kind):
        return lambda q: next(s for s in q["calls"] if s["kind"] == kind)["lines"].pop()
    wrong = {
        "store_count": lambda q: q.update(store_root=q["store_root"] + "-missing"),
        "write_report": lambda q: q["bulk_report"].update(orders=q["bulk_report"]["orders"] - 1),
        "read_after_write": lambda q: q["reads"][0]["lines"].__setitem__(0, "x"),
        **{f"{k}_result": first(k) for k in QUERY_KINDS},
    }
    for name, tamper in wrong.items():
        q = json.loads(json.dumps(p))
        for s in q["reads"] + q["calls"]:
            s["error"] = None
        tamper(q)
        results[f"rejects_wrong_{name}"] = bool(check_pass(q, plan, truth))
    for name, (want, got) in checks.oracle_pairs(p["oracle_dir"]).items():
        v = got[0][-1]
        bad = [got[0][:-1] + (v + "x" if isinstance(v, str) else v + 1,)] + got[1:]
        results[f"rejects_wrong_{name}_output"] = bool(checks.oracle_mismatches({name: (want, bad)}))
    results["rejects_lost_pagerank_mass"] = bool(
        checks.pagerank_mass_error(checks.PR_SCALE - 10 ** 9, 100, 100, PR_ITERATIONS))
    for k, v in sorted(results.items()):
        print(f"{'ok  ' if v else 'FAIL'} checks.{k}")
    ok = ok and all(results.values())
    print(json.dumps({"selftest": "passed" if ok else "failed"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description="graft product-path benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        classpath = build.build()
    except Exception as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.time() + RUN_LIMIT_S
    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(build.OUT, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(build.OUT, "runs"))
    try:
        if a.selftest:
            return selftest(classpath, run_dir, cores, deadline)
        run(a, classpath, run_dir, cores, deadline)
        return 0
    except Exception as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
