#!/usr/bin/env python3
"""The repo benchmark: one command per workload, run from the repo root.

    python3 perfbench/run.py --workload flow_dag --seed 1 --seconds 5 --trace 0

Builds the program and the harness from source on first use (sbt, into
`target/` and `.bench_build/`), runs one workload in a fresh JVM at
local[nproc], checks its outputs and prints, as the last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics untraced (`--trace 0`), the per-layer metrics traced (`--trace 1`).
See perfbench/README.md for the workloads, the metrics and what each
layer metric should move.
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
BUILD = os.path.join(ROOT, ".bench_build")
CORPUS = os.path.join(HERE, "corpus")
EXPECTED = os.path.join(HERE, "expected.json")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources
import flowgen  # noqa: E402

# query_inventory: the timed query set, in a fixed canonical order (each
# pass runs it in a seeded order): the overhead-bound majority, the c1_scan
# control and two queries the partition floor hits (q_chisq, tx_pmi).
INVENTORY = [
    "c1_scan", "q_chisq", "tx_pmi", "c2_project", "c9_count_distinct",
    "c11_cube", "c12_window_rank", "c13_topk", "c16_dates", "c24_nulls",
    "e1_tumbling", "tx_tokens"]
# standing_cold: trigger queries whose first touch, from an empty standing
# root, builds exactly STANDING_MODELS.
TRIGGERS = ["tx_pmi", "q_degree_dist", "sim_pq_topk"]
STANDING_MODELS = ["doc_terms", "bigram_counts", "edges_bipartite",
                   "graft_pq_codebook", "graft_pq_codes"]
# per-query layer metrics, where the workload runs the query
NAMED_QUERIES = ["c1_scan", "q_sssp", "q_recursive_bfs", "q_chisq",
                 "tx_dsir", "dd_simhash_resolve", "dd_minhash_hi",
                 "dd_minhash_hi_resolve", "d3_anomaly", "tx_pmi",
                 "q_window_dist", "q_pagerank_fast"]

# Units (flow cycles, query passes, cold builds) each run measures at
# least; metrics are medians over units. A flow cycle costs ~12 s, a query
# pass ~5 s, and the run budget holds ~45 s per run.
UNITS = {"flow_dag": 2, "query_inventory": 3, "standing_cold": 3}

JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def ensure_build():
    """Compile the program and the harness once per source state; prepare
    the standing catalog query_inventory resolves from. Returns the
    classpath."""
    stamp = os.path.join(BUILD, "build.json")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("hash") == want:
            return got["classpath"]
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    log("building (sbt compile)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    log("preparing the standing catalog")
    catalog = os.path.join(BUILD, "catalog")
    out = jvm(classpath, ["--mode", "prepare", "--workload", "prepare",
                          "--queries", ",".join(INVENTORY),
                          "--catalog", catalog],
              os.path.join(BUILD, "prepare"), timeout=700)
    if out.get("errors"):
        raise SystemExit(f"perfbench: catalog preparation failed: "
                         f"{out['errors']}")
    with open(stamp, "w") as fh:
        json.dump({"hash": want, "classpath": classpath,
                   "catalog_built_s": out.get("built_s", {})}, fh)
    return classpath


def jvm(classpath, args, work, timeout=JVM_TIMEOUT_S, trace=False):
    """Run the harness JVM with its working directory, temp files and
    Spark scratch inside `work`; return its result object."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens",
                                                       f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
              f"-Dderby.system.home={work}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "graft.perfbench.Main"]
           + args + ["--corpus", CORPUS, "--work", work, "--out", result,
                     "--trace", "1" if trace else "0"])
    started = time.monotonic()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        # own process group, so a timeout also stops the Python model
        # workers the JVM spawned
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=logf,
                             start_new_session=True)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: harness timed out ({timeout}s)")
    if not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited {p.returncode} "
                         "without a result")
    with open(result) as fh:
        out = json.load(fh)
    log(f"harness JVM ran {time.monotonic() - started:.1f}s")
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited {p.returncode}")
    return out


# ---- metrics ----------------------------------------------------------------

def pct(values, q):
    """Percentile `q` (0-100) by linear interpolation."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def corpus_bytes():
    return sum(os.path.getsize(os.path.join(CORPUS, f))
               for f in os.listdir(CORPUS))


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(setup_s, run_s, ops, stored, input_bytes, out):
    """`ops` maps each operation (query, model, trigger) to its latencies
    over the run's measured units; the percentiles are taken over each
    operation's median."""
    per_op = [statistics.median(v) for v in ops.values()]
    return {
        "setup_s": metric(setup_s, "s"),
        "run_s": metric(run_s, "s"),
        "op_p50_s": metric(pct(per_op, 50), "s"),
        "op_p90_s": metric(pct(per_op, 90), "s"),
        "stored_bytes_per_input_byte": metric(stored / input_bytes, "ratio"),
        "live_heap_peak_mb": metric(out["live_heap_peak_mb"], "MB"),
    }


def layer_defaults():
    names = (["harness.session_s", "harness.verify_pass_s",
              "harness.peak_rss_mb",
              "harness.control_c1_scan_s", "harness.traced_run_s",
              "plans.plan_s", "plans.run_full_s", "plans.run_incr_s",
              "plans.nodes_run", "plans.parallelism", "plans.ready_wait_s",
              "plans.critical_path_s",
              "api.project_load_s", "api.write_execs", "api.write_busy_s",
              "api.bytes_written", "api.files_written", "api.tests_run",
              "api.tests_s", "api.pybridge_nodes", "api.pybridge_node_s",
              "api.pybridge_handoff_bytes",
              "operators.df_build_s", "operators.resolve_s",
              "operators.builds"]
             + [f"operators.{q}_s" for q in NAMED_QUERIES if q in INVENTORY]
             + [f"spark.{k}" for k in SPARK_KEYS])
    return {n: 0.0 for n in names}


SPARK_KEYS = ["jobs", "stages", "tasks", "codegen_compiles", "task_busy_s",
              "action_s", "slot_util", "driver_gap_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "gc_s",
              "storage_mem_peak_mb"]

LAYER_UNITS = {"nodes_run": "count", "write_execs": "count",
               "tests_run": "count", "pybridge_nodes": "count",
               "builds": "count", "jobs": "count", "stages": "count",
               "tasks": "count", "codegen_compiles": "count",
               "parallelism": "ratio", "slot_util": "ratio",
               "storage_mem_peak_mb": "MB", "peak_rss_mb": "MB"}


def layer_unit(name):
    leaf = name.split(".")[-1]
    if leaf.endswith("_bytes") or leaf == "bytes_written":
        return "bytes"
    if leaf == "files_written":
        return "count"
    return LAYER_UNITS.get(leaf, "s")


def common_layers(out, layers):
    layers["harness.session_s"] = out["session_s"]
    layers["harness.peak_rss_mb"] = out["peak_rss_kb"] / 1024.0
    layers["harness.control_c1_scan_s"] = statistics.median(out["control_s"])
    for k in SPARK_KEYS:
        layers[f"spark.{k}"] = out.get("spark", {}).get(k, 0.0)


def control_check(workload, out, bound):
    """The c1_scan control, timed before and after the measured region.
    The first control of a fresh JVM still carries JIT warm-up, so the
    host-load verdict compares the warm (after) control with the median
    of the earlier runs' after-controls in this checkout: a run whose
    control is slower by more than the bound ran on a loaded host."""
    before, after = out["control_s"]
    path = os.path.join(BUILD, "controls.json")
    history = {}
    if os.path.exists(path):
        with open(path) as fh:
            history = json.load(fh)
    past = history.get(workload, [])
    base = statistics.median(past) if len(past) >= 3 else None
    contaminated = base is not None and after > (1 + bound) * base
    if contaminated:
        log(f"CONTAMINATED: c1_scan control {after:.4f}s against this "
            f"checkout's median {base:.4f}s (> +{bound:.0%}); this run's "
            "timings reflect host load")
    history[workload] = (past + [after])[-25:]
    with open(path, "w") as fh:
        json.dump(history, fh)
    return {"before_s": before, "after_s": after, "baseline_s": base,
            "contaminated": contaminated}


# ---- workloads ---------------------------------------------------------------

def expected(kind, got, record):
    """The recorded digests of `kind` ("queries" or "triggers"); with
    `record`, first replace them with `got` (see README: the recorded
    outputs must come from a build whose oracle check passed)."""
    data = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            data = json.load(fh)
    if record:
        data[kind] = {k: got[k] for k in sorted(got)}
        with open(EXPECTED, "w") as fh:
            json.dump(data, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return data.get(kind, {})


def run_queries(cp, args, work):
    out = jvm(cp, ["--mode", "run", "--workload", "query_inventory",
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--units", str(UNITS["query_inventory"]),
                   "--queries", ",".join(INVENTORY),
                   "--catalog", os.path.join(BUILD, "catalog")],
              work, trace=args.trace)
    want = expected("queries", out["verify"], args.record)
    failures = []
    for q in INVENTORY:
        v = out["verify"].get(q, {})
        if v != want.get(q):
            failures.append(f"{q}: verify {v} != expected {want.get(q)}")
    for p in out["passes"]:
        for q, n in p["rows"].items():
            if n != want.get(q, {}).get("rows"):
                failures.append(f"{q}: timed rows {n} != "
                                f"{want.get(q, {}).get('rows')}")
    failures += [f"{q}: {e}" for q, e in out["errors"].items()]
    if out["builds"]:
        failures.append(f"standing models built on a resolve-only run: "
                        f"{out['builds']}")
    failed_ops = {f.split(":")[0] for f in failures}
    ops = {q: [p["latency_s"][q] for p in out["passes"]] for q in INVENTORY}
    total = sum(statistics.median(v) for v in ops.values())
    attempted = len(INVENTORY) * (1 + len(out["passes"]))
    e2e = end_to_end(out["setup_s"], total, ops,
                     out["stored_bytes"], corpus_bytes(), out)
    layers = layer_defaults()
    common_layers(out, layers)
    layers["harness.verify_pass_s"] = out["verify_pass_s"]
    layers["harness.traced_run_s"] = total
    layers["operators.df_build_s"] = statistics.median(
        [sum(p["build_s"].values()) for p in out["passes"]])
    layers["operators.resolve_s"] = out["resolve_s"]
    layers["operators.builds"] = float(sum(out["builds"].values()))
    for q in NAMED_QUERIES:
        if q in INVENTORY:
            layers[f"operators.{q}_s"] = statistics.median(
                [p["latency_s"][q] for p in out["passes"]])
    detail = {"verify_s": out["verify_s"], "per_query_s": {q: statistics.median(
        [p["latency_s"][q] for p in out["passes"]]) for q in INVENTORY},
        "passes": len(out["passes"]),
        "spark_by_query": out.get("spark_by_query", {})}
    return out, e2e, layers, failures, len(failed_ops), attempted, detail


def run_standing(cp, args, work):
    out = jvm(cp, ["--mode", "run", "--workload", "standing_cold",
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--units", str(UNITS["standing_cold"]),
                   "--queries", ",".join(TRIGGERS)], work, trace=args.trace)
    want = expected("triggers", out["passes"][0]["digests"], args.record)
    failures = [f"{q}: {e}" for q, e in out["errors"].items()]
    for i, p in enumerate(out["passes"]):
        for m in STANDING_MODELS:
            n = p["builds"].get(m, 0)
            if n != 1:
                failures.append(f"{m}: built {n} times in pass {i}")
        extra = set(p["builds"]) - set(STANDING_MODELS)
        if extra:
            failures.append(f"pass {i} built unexpected models {sorted(extra)}")
        for q in TRIGGERS:
            if p["digests"].get(q) != want.get(q):
                failures.append(f"{q}: digest {p['digests'].get(q)} != "
                                f"expected {want.get(q)}")
    passes = out["passes"]
    colds = [p["cold_s"] for p in passes]
    ops = {q: [p["latency_s"][q] for p in passes] for q in TRIGGERS}
    attempted = len(passes) * (len(TRIGGERS) + len(STANDING_MODELS))
    failed = len({f.split(":")[0] for f in failures})
    input_bytes = sum(os.path.getsize(os.path.join(CORPUS, f"{t}.parquet"))
                      for t in ("documents", "embeddings"))
    e2e = end_to_end(out["setup_s"], statistics.median(colds), ops,
                     statistics.median([p["stored_bytes"] for p in passes]),
                     input_bytes, out)
    layers = layer_defaults()
    layers.update({f"standing.{m}.build_s": 0.0 for m in STANDING_MODELS})
    common_layers(out, layers)
    layers["harness.traced_run_s"] = statistics.median(colds)
    layers["operators.builds"] = float(statistics.median(
        [sum(p["builds"].values()) for p in passes]))
    for m in STANDING_MODELS:
        layers[f"standing.{m}.build_s"] = statistics.median(
            [p["build_s"].get(m, 0.0) for p in passes])
    writes = [p["writes"] for p in passes if p["writes"]]
    if writes:
        layers["api.write_execs"] = float(statistics.median(
            [w["count"] for w in writes]))
        layers["api.write_busy_s"] = statistics.median(
            [w["busy_s"] for w in writes])
    layers["api.bytes_written"] = float(
        out.get("spark", {}).get("output_bytes", 0))
    detail = {"per_trigger_s": {q: statistics.median(
        [p["latency_s"][q] for p in passes]) for q in TRIGGERS},
        "build_s": {m: layers[f"standing.{m}.build_s"]
                    for m in STANDING_MODELS}, "passes": len(passes)}
    return out, e2e, layers, failures, failed, attempted, detail


def run_flow(cp, args, work):
    spec = flowgen.generate(args.seed, CORPUS, work + "-inputs")
    out = jvm(cp, ["--mode", "run", "--workload", "flow_dag",
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--units", str(UNITS["flow_dag"]),
                   "--project", spec["project"], "--sources", spec["sources"],
                   "--incr", spec["incr"], "--pools", args.pools],
              work, trace=args.trace)
    kinds = flowgen.models_of(spec["project"])
    failures = []
    ready = {}
    for ci, c in enumerate(out["cycles"]):
        for phase in ("full", "incr"):
            r = c[phase]
            if r["status"] != 0:
                failures.append(f"cycle {ci} {phase}: run status {r['status']}")
            for m in kinds:
                st = r["statuses"].get(m)
                if st not in ("success", "tested"):
                    failures.append(f"{m}: {phase} run ended {st}")
            ledger = r["ledger"]
            want = expected_ledger(spec["project"], r)
            if len(ledger) != want:
                failures.append(f"cycle {ci} {phase}: {len(ledger)} ledger "
                                f"records, expected {want}")
            done = node_done(ledger)
            for m in kinds:
                if m in done:
                    ready.setdefault(f"{phase}.{m}", []).append(
                        (done[m] - r["start_ms"]) / 1e3)
    failures += flowgen.check(spec, out["model_files"])
    failed = len({f.split(":")[0].split(".")[0] for f in failures})
    attempted = len(out["cycles"]) * 2 * len(kinds)
    runs = [c["full"]["wall_s"] + c["incr"]["wall_s"] for c in out["cycles"]]
    last = out["cycles"][-1]
    e2e = end_to_end(out["setup_s"], statistics.median(runs), ready,
                     last["stored_bytes"], flowgen.input_bytes(spec), out)
    layers = layer_defaults()
    common_layers(out, layers)
    layers.update(flow_layers(out, kinds))
    layers["harness.traced_run_s"] = statistics.median(runs)
    detail = {"cycles": len(out["cycles"]),
              "full_s": [c["full"]["wall_s"] for c in out["cycles"]],
              "incr_s": [c["incr"]["wall_s"] for c in out["cycles"]]}
    return out, e2e, layers, failures, failed, attempted, detail


def node_done(ledger):
    """model name -> epoch ms of its node's final ledger record."""
    done = {}
    for node, status, _, at in ledger:
        if node.startswith("model.") and status in ("success", "tested"):
            done[node.split(".", 2)[2]] = at
    return done


def expected_ledger(project, run):
    """One write record, one record per data test and one node record per
    model, plus one record per model-attached script. (`Runner.run`
    leaves project-level scripts to `fal run`, so they add none.)"""
    kinds = flowgen.models_of(project)
    tests = sum(len(v) for v in run["tests"].values())
    models = os.path.join(project, "models")
    scripts = 0
    for f in os.listdir(models):
        if f.endswith(".meta"):
            with open(os.path.join(models, f)) as fh:
                scripts += sum(len(line.split("=", 1)[1].split(","))
                               for line in fh
                               if line.startswith("scripts_after="))
    return 2 * len(kinds) + tests + scripts


def flow_layers(out, kinds):
    """plans.* and api.* figures of the flow, from the ledger stamps and
    the per-model pool spans the listener recorded."""
    L = {}
    cycles = out["cycles"]
    L["api.project_load_s"] = statistics.median(out["project_load_s"])
    L["plans.run_full_s"] = statistics.median(
        [c["full"]["wall_s"] for c in cycles])
    L["plans.run_incr_s"] = statistics.median(
        [c["incr"]["wall_s"] for c in cycles])
    L["plans.plan_s"] = statistics.median(
        [c[p]["plan_s"] for c in cycles for p in ("full", "incr")])
    last = cycles[-1]
    busy, wait, crit, py_busy = 0.0, 0.0, 0.0, 0.0
    nodes, tests, tests_s, py_nodes = 0, 0, 0.0, 0
    walls = 0.0
    for phase in ("full", "incr"):
        r = last[phase]
        spans = r.get("node_spans", {})
        walls += r["wall_s"]
        done = node_done(r["ledger"])
        nodes += sum(1 for node, *_ in r["ledger"]
                     if node.startswith(("model.", "script.")))
        writes = {}
        stamps = {}
        for node, status, detail, at in r["ledger"]:
            if detail.startswith(("write", "merge", "append")) or \
                    detail.startswith("rows="):
                writes.setdefault(node, at)
            if detail.startswith("violations="):
                stamps[node] = at
                tests += 1
        for m, names in r["tests"].items():
            if names and m in writes:
                tests_s += (max(stamps.get(n, writes[m]) for n in names)
                            - writes[m]) / 1e3
        start = {}
        for m in kinds:
            if m in spans and m in done:
                s = max(spans[m][0], r["start_ms"])
                if s <= done[m]:
                    start[m] = s
        cp = {}
        for m in sorted(start, key=lambda x: done[x]):
            d = (done[m] - start[m]) / 1e3
            busy += d
            if m in r["python"]:
                py_busy += d
                py_nodes += 1
            deps = [x for x in r["deps"].get(m, []) if x in done]
            ready_at = max([done[x] for x in deps] + [r["start_ms"]])
            wait += max(0, start[m] - ready_at) / 1e3
            cp[m] = d + max([cp.get(x, 0.0) for x in deps] + [0.0])
        if phase == "full":
            crit = max(cp.values()) if cp else 0.0
    L["plans.nodes_run"] = float(nodes)
    L["plans.parallelism"] = busy / walls if walls else 0.0
    L["plans.ready_wait_s"] = wait
    L["plans.critical_path_s"] = crit
    w = last.get("writes") or {}
    L["api.write_execs"] = float(w.get("count", 0))
    L["api.write_busy_s"] = w.get("busy_s", 0.0)
    L["api.bytes_written"] = float(out.get("spark", {}).get("output_bytes", 0))
    L["api.files_written"] = float(last["files"])
    L["api.tests_run"] = float(tests)
    L["api.tests_s"] = tests_s
    L["api.pybridge_nodes"] = float(py_nodes)
    L["api.pybridge_node_s"] = py_busy
    py = last["full"]["python"]
    handoff = sum(last.get("node_output_bytes", {}).get(m, 0)
                  - out["model_bytes"].get(m, 0) for m in py)
    L["api.pybridge_handoff_bytes"] = float(max(0, handoff))
    return L


RUNNERS = {"flow_dag": run_flow, "query_inventory": run_queries,
           "standing_cold": run_standing}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pools", choices=("0", "1"), default="0",
                    help="flow_dag: set one scheduler pool per model on an "
                         "untraced run (traced runs always do)")
    ap.add_argument("--record", action="store_true",
                    help="query_inventory/standing_cold: record this run's "
                         "output digests as the expected ones")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no program sources next to the benchmark (build.sbt, "
            "src/main/scala); run from a checkout of the repository")
        return 2
    if not os.path.isdir(CORPUS):
        log("benchmark corpus missing")
        return 2
    cp = ensure_build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-"
                                       f"{os.getpid()}")
    bound = bench_bound()
    try:
        out, e2e, layers, failures, failed, attempted, detail = \
            RUNNERS[args.workload](cp, args, work)
        detail["control"] = control_check(args.workload, out, bound)
        detail["seed"] = args.seed
        detail["failures"] = failures[:50]
        if args.trace:
            detail["layers"] = layers
        with open(os.path.join(BUILD, f"detail-{args.workload}.json"),
                  "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
        for f in failures[:20]:
            log(f"CHECK FAILED: {f}")
        metrics = e2e if not args.trace else {
            k: metric(v, layer_unit(k)) for k, v in sorted(layers.items())}
        result = {"correct": not failures, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
        log(f"seed={args.seed} workload={args.workload} "
            f"control={detail['control']}")
        print(json.dumps(result))
        return 0 if not failures else 1
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(
                BUILD, f"spans-{args.workload}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(work + "-inputs", ignore_errors=True)


def bench_bound():
    """The bound on `run_s` in BENCHMARK.json: the control's
    contamination threshold."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            return next(m["bound"] for m in json.load(fh)["end_to_end"]
                        if m["name"] == "run_s")
    except (OSError, ValueError, KeyError, StopIteration):
        return 0.25


if __name__ == "__main__":
    sys.exit(main())
