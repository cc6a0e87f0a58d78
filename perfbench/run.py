#!/usr/bin/env python3
"""graft's benchmark: one workload, one fresh JVM, one closed-loop client.

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload query_mix|pipelines \
      --seed N --seconds S --trace 0|1

The first run builds the library and the harness from source with sbt
(offline) and caches the classpath under perfbench/.build; later runs
reuse it while no source file changed. Each run then

  1. generates the workload's inputs from --seed;
  2. starts a set-up probe (a JVM that sets up as the run does and
     stops), then one JVM at local[nproc] with a fixed heap, which
     measures for --seconds: a cold pass, then warm passes until the
     time is up;
  3. checks every output (checks.py) and prints each metric by name and
     unit, then, as its last line, one JSON object with the keys
     correct, attempted, failed and metrics.

--trace 0 reports the end-to-end metrics; --trace 1 registers the
benchmark's Spark listeners, writes the span file and reports the
per-layer metrics. The exit code is 0 only when every output is right.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_cmapss  # noqa: E402
import gen_corpus  # noqa: E402
import gen_warehouse  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
HEAP = "3g"
# query_mix: one query per operator module, led by the sites the open
# ROADMAP items change (see README.md for the choice and the trimming).
QUERIES = [
    "a13_medians", "w16_rolling_median", "dd_clusters", "ta_tfidf",
    "j5_asof_join", "mm_meta", "f6_regex", "tpch_q1", "w6_row_number",
    "ann_topk_exact",
]
SF = 0.001                # query_mix warehouse scale (lineitem = 6e6 x SF)
CMAPSS_UNITS = 25         # units per dataset
CMAPSS_DATASETS = ("FD001", "FD002")
CORPUS_DOCS = 1000        # base documents before injection
SETUP_PROBES = 1          # set-up-only JVMs before the run; setup_s is the median

# Name and unit of every metric the final line carries.
END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s")]
PER_LAYER = [
    ("build_s", "s"), ("build_jobs", "count"), ("build_task_s", "s"),
    ("analysis_s", "s"), ("optimizer_s", "s"), ("planning_s", "s"), ("plan_jobs", "count"),
    ("plan_task_s", "s"),
    ("exec_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_busy_s", "s"), ("core_util", "ratio"), ("serial_stage_s", "s"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("gc_s", "s"),
    ("scan_rows", "count"), ("scan_mb", "MB"), ("scan_tasks", "count"),
    ("pins_created", "count"), ("warm_pins_created", "count"), ("blocks_evicted", "count"),
    ("cache_mb", "MB"), ("stage_attempts", "count"), ("write_mb", "MB"),
    ("files_written", "count"), ("batches", "count"), ("state_rows", "count"),
    ("state_mb", "MB"),
    ("self_build_s", "s"), ("self_plan_s", "s"), ("self_exec_s", "s"),
    ("self_job_s", "s"), ("self_stage_s", "s"),
]
MB = 1024.0 * 1024.0


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ----------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def ensure_build():
    """Compile graft and the harness once per source state; return the
    runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("the graft sources are not next to perfbench/ (run from a checkout root)")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


# ---------------------------------------------------------------- inputs

# The inputs each workload reads, by generator.
COMPONENTS = {
    "query_mix": ["wh"],
    "pipelines": ["cmapss", "corpus"],
}
GENERATORS = {
    "wh": lambda d, seed: gen_warehouse.build(d, seed, SF),
    "cmapss": lambda d, seed: gen_cmapss.build(d, seed, CMAPSS_UNITS, CMAPSS_DATASETS),
    "corpus": lambda d, seed: gen_corpus.build(d, seed, CORPUS_DOCS),
}


def generate(workload, seed, run_dir):
    """Generate the inputs; return (info by component, seconds, input dir).
    tests/test_generators.py shows the same seed gives the same files."""
    info, d = {}, os.path.join(run_dir, "inputs")
    t = time.perf_counter()
    for c in COMPONENTS[workload]:
        info[c] = GENERATORS[c](os.path.join(d, c), seed)
    return info, time.perf_counter() - t, d


# ------------------------------------------------------------------- run

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(cp, workload, seed, seconds, trace, inputs, work, probe=False):
    result = os.path.join(work, "probe.json" if probe else "result.json")
    spans = os.path.join(work, "spans.jsonl")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--inputs", inputs,
            "--work", work, "--result", result, "--spans", spans,
            "--queries", ",".join(QUERIES), "--probe", "1" if probe else "0"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    launch = time.time()
    with open(os.path.join(work, "probe.log" if probe else "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=30 if probe else seconds + 110)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0 or not os.path.isfile(result):
        with open(os.path.join(work, "probe.log" if probe else "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM failed (exit {rc})", 5)
    with open(result) as fh:
        res = json.load(fh)
    res["_jvm_s"] = time.time() - launch
    return res, launch, spans


# --------------------------------------------------------------- metrics

def op_wall(o):
    return (o["end_us"] - o["start_us"]) / 1e6


def end_to_end(res, setups):
    """setup_s (the median set-up, JVM launch to the first timed
    operation) and cold_pass_s, plus the warm pass times and the warm
    operations' latencies."""
    ops = res["ops"]
    by_pass = {}
    for o in ops:
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + op_wall(o)
    warm_passes = [v for k, v in sorted(by_pass.items()) if k > 0]
    return {
        "setup_s": statistics.median(setups),
        "cold_pass_s": by_pass.get(0, 0.0),
    }, warm_passes, [op_wall(o) for o in ops if o["pass"] > 0]


def _union(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(res, spans_path):
    """Per-layer metrics of the cold pass, the work cold_pass_s times,
    from the span tree; plus the pins created after it."""
    ops = {o["id"]: o for o in res["ops"]}
    spans = []
    with open(spans_path) as fh:
        for line in fh:
            spans.append(json.loads(line))
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    cold = [s for s in spans if ops[s["trace"]]["pass"] == 0]

    def dur(s):
        return (s["end_us"] - s["start_us"]) / 1e6

    def layer(name):
        return [s for s in cold if s["layer"] == name]

    def self_time(s):
        inside = [(max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                  for c in kids.get(s["id"], [])]
        return max(0.0, dur(s) - _union([(a, b) for a, b in inside if b > a]) / 1e6)

    def under(j):
        return by_id[j["parent"]]["layer"] if j["parent"] in by_id else "op"

    # Jobs and their stages by the phase they started in: construction
    # probes and pins (build), jobs launched while planning (plan), and
    # the execution of the operation's plans (exec, or a micro-batch).
    jobs, batches = layer("job"), layer("batch")
    scope = {j["id"]: ("exec" if under(j) in ("exec", "batch", "op") else under(j))
             for j in jobs}
    stages = {p: [s for s in layer("stage") if scope[s["parent"]] == p]
              for p in ("build", "plan", "exec")}
    exec_stages = stages["exec"]
    attr = lambda k, ss=exec_stages: sum(s["attrs"].get(k, 0.0) for s in ss)
    exec_s = sum(dur(s) for s in layer("exec"))
    busy = attr("run_s")
    cold_pass = next(p for p in res["passes"] if p["pass"] == 0)
    a, b = cold_pass["start_us"] / 1e3, cold_pass["end_us"] / 1e3
    phase = {}
    for name, s_ms, e_ms in res["info"].get("phases", []):
        if a <= s_ms <= b:
            phase[name] = phase.get(name, 0.0) + (e_ms - s_ms) / 1e3
    last_batch = max(batches, key=lambda s: s["end_us"], default=None)
    m = {
        "build_s": sum(dur(s) for s in layer("build")),
        "build_jobs": sum(1 for j in jobs if scope[j["id"]] == "build"),
        "build_task_s": attr("run_s", stages["build"]),
        "analysis_s": phase.get("analysis", 0.0),
        "optimizer_s": phase.get("optimization", 0.0),
        "planning_s": phase.get("planning", 0.0),
        "plan_jobs": sum(1 for j in jobs if scope[j["id"]] == "plan"),
        "plan_task_s": attr("run_s", stages["plan"]),
        "exec_s": exec_s,
        "jobs": sum(1 for j in jobs if scope[j["id"]] == "exec"),
        "stages": len(exec_stages),
        "tasks": attr("tasks"),
        "task_busy_s": busy,
        "core_util": busy / (exec_s * res["env"]["nproc"]) if exec_s > 0 else 0.0,
        "serial_stage_s": sum(dur(s) for s in exec_stages if s["attrs"].get("num_tasks") == 1),
        "shuffle_read_mb": attr("shuffle_read_bytes") / MB,
        "shuffle_write_mb": attr("shuffle_write_bytes") / MB,
        "spill_mb": attr("spill_bytes") / MB,
        "gc_s": cold_pass["gc_ms"] / 1e3,
        "scan_rows": attr("scan_rows"),
        "scan_mb": attr("scan_bytes") / MB,
        "scan_tasks": attr("scan_tasks"),
        "pins_created": sum(o["pins_created"] for o in res["ops"] if o["pass"] == 0),
        "warm_pins_created": sum(o["pins_created"] for o in res["ops"] if o["pass"] > 0),
        "blocks_evicted": res["info"].get("blocks_evicted", 0),
        "cache_mb": res["info"]["cache_bytes"] / MB,
        "stage_attempts": sum(1 for o in res["ops"] if o["pass"] == 0 and o["kind"] == "stage"),
        "write_mb": attr("write_bytes") / MB,
        "files_written": res["_files_written"],
        "batches": len(batches),
        "state_rows": last_batch["attrs"]["state_rows"] if last_batch else 0,
        "state_mb": last_batch["attrs"]["state_bytes"] / MB if last_batch else 0.0,
    }
    for name in ("build", "plan", "exec", "job", "stage"):
        m[f"self_{name}_s"] = sum(self_time(s) for s in layer(name))
    extra = {}
    if batches:
        extra["self_batch_s"] = sum(self_time(s) for s in batches)
        extra["batch_p50_s"] = statistics.median(dur(s) for s in batches)
        extra["batch_max_s"] = max(dur(s) for s in batches)
        extra["add_batch_s"] = sum(s["attrs"]["add_batch_s"] for s in batches)
    return m, extra


# ------------------------------------------------------------------ main

def run_checks(workload, gen, info, inputs, work):
    """Every output check of the workload, and the input and output
    trees write amplification is measured on."""
    results, ins, outs = [], [], []
    comps = COMPONENTS[workload]
    if "wh" in comps:
        oracle = info.get("oracle", {})
        results += [(q, False, "no oracle SQL") for q in QUERIES if q not in oracle]
        results += checks.query_mix(os.path.join(inputs, "wh"), os.path.join(work, "out"), oracle)
        ins.append(os.path.join(inputs, "wh"))
    if "cmapss" in comps:
        results += checks.cmapss_etl(os.path.join(inputs, "cmapss"),
                                     os.path.join(work, "warehouse"), gen["cmapss"],
                                     info.get("sensors", []), info.get("ml", {}).get("rmse"))
        ins.append(os.path.join(inputs, "cmapss"))
        outs.append(os.path.join(work, "warehouse"))
    if "corpus" in comps:
        results += checks.corpus_flow(os.path.join(work, "corpus", "batch"),
                                      os.path.join(work, "corpus", "stream"),
                                      gen["corpus"]["injected_exact_ids"])
        ins.append(os.path.join(inputs, "corpus"))
        outs.append(os.path.join(work, "corpus"))
    return results, ins, outs


def shown_metrics(workload, res, gen, e2e, warm_passes, warm_ops, failed, attempted, ins, outs):
    """The full metric set of the workload, for the reader and the
    result file; the final line carries only the BENCHMARK.json set."""
    ops = res["ops"]
    info = res["info"]
    shown = dict(e2e)
    units = dict(END_TO_END)
    shown["wall_s"] = (res["measure_end_us"] - res["first_op_us"]) / 1e6
    shown["failed_frac"] = failed / attempted
    shown["cache_mb"] = info["cache_bytes"] / MB
    shown["write_amp"] = sum(checks.tree_bytes(d) for d in outs) / sum(
        checks.tree_bytes(d) for d in ins)
    units.update(wall_s="s", failed_frac="ratio", cache_mb="MB", write_amp="ratio")

    def per_pass(names):
        tot = {}
        for o in ops:
            if o["name"] in names:
                tot[o["pass"]] = tot.get(o["pass"], 0.0) + op_wall(o)
        return statistics.median(tot.values())

    comps = COMPONENTS[workload]
    if "wh" in comps:
        shown["warm_pass_s"] = statistics.median(warm_passes)
        shown["query_p50_s"] = statistics.median(warm_ops)
        shown["query_p90_s"] = statistics.quantiles(warm_ops, n=10, method="inclusive")[-1]
        units.update(warm_pass_s="s", query_p50_s="s", query_p90_s="s")
    if "cmapss" in comps:
        shown["rows_per_s"] = gen["cmapss"]["train_rows"] / per_pass(
            {"etl", "train_score", "dashboard"})
        units["rows_per_s"] = "rows/s"
    if "corpus" in comps:
        docs = gen["corpus"]["docs"]
        shown["docs_per_s"] = docs / per_pass(
            {"ingest", "curate", "dedup", "linededup", "split", "screen", "pack"})
        shown["stream_docs_per_s"] = docs / per_pass({"stream"})
        units.update(docs_per_s="docs/s", stream_docs_per_s="docs/s")
    return shown, units


def run_once(args, cp):
    t_start = time.time()
    run_dir = os.path.join(WORK, f"{args.workload}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    gen, gen_s, inputs = generate(args.workload, args.seed, run_dir)
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    # Set-up probes: each starts a JVM and a SparkSession exactly as the
    # run does and stops there; with the run's own, setup_s takes the
    # median of SETUP_PROBES + 1 set-ups.
    setups = []
    for i in range(SETUP_PROBES):
        pdir = os.path.join(run_dir, f"probe{i}")
        os.makedirs(pdir)
        p, p_launch, _ = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace,
                                 inputs, pdir, probe=True)
        setups.append(p["first_op_us"] / 1e6 - p_launch)
    res, launch, spans = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace,
                                 inputs, work)
    setups.append(res["first_op_us"] / 1e6 - launch)
    info = res["info"]
    ops = res["ops"]
    e2e, warm_passes, warm_ops = end_to_end(res, setups)
    results, ins, outs = run_checks(args.workload, gen, info, inputs, work)
    res["_files_written"] = sum(checks.tree_files(d) for d in outs)

    stream_stages = info.get("stream_stage_reports", [])
    attempted = len(ops) + int(info.get("micro_batches", 0)) + len(stream_stages)
    failed = (sum(1 for o in ops if not o["ok"])
              + sum(1 for s in stream_stages if s["outcome"] != "Succeeded")
              + sum(1 for r in results if not r[1]))
    correct = failed == 0
    shown, units = shown_metrics(args.workload, res, gen, e2e, warm_passes, warm_ops,
                                 failed, attempted, ins, outs)
    # The parts of the run around setup_s, printed for the reader.
    shown["generate_s"] = gen_s
    shown["session_s"] = res["session_us"] / 1e6 - launch
    units.update(generate_s="s", session_s="s")
    stage_s = {}
    for o in ops:
        if o["kind"] != "query":
            stage_s.setdefault(o["name"], []).append(op_wall(o))
    record = {
        "setups_s": setups,
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": res["env"], "heap": HEAP,
        "sf_dir": os.path.join(inputs, "wh") if "wh" in gen else None,
        "inputs": inputs,
        "generated": {c: {k: v for k, v in g.items() if k != "injected_exact_ids"}
                      for c, g in gen.items()},
        "attempted": attempted, "failed": failed,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in results],
        "passes": len(res["passes"]), "warm_ops": len(warm_ops),
        "metrics": shown,
        "stage_s": {k: statistics.median(v) for k, v in stage_s.items()},
        "op_s": [[o["name"], o["pass"], op_wall(o), (o["build_end_us"] - o["start_us"]) / 1e6]
                 for o in ops],
        "errors": sorted({o["error"] for o in ops if o["error"]}),
    }

    env = res["env"]
    print(f"workload {args.workload}  seed {args.seed}  nproc {env['nproc']}  heap {HEAP}  "
          f"spark {env['spark_version']}  trace {args.trace}  passes {len(res['passes'])}")
    if "wh" in gen:
        print(f"sf_dir {record['sf_dir']} (generated, sf {SF})")
        beyond = sum(1 for x in warm_ops if x > shown["query_p90_s"])
        print(f"samples {len(warm_ops)} warm queries in {len(warm_passes)} warm passes, "
              f"{beyond} beyond p90")
    print("setups " + " ".join(f"{x:.4g}" for x in setups) + " s (probes, then the run's own)")
    if "corpus" in gen:
        print("corpus shares measured " + json.dumps(gen["corpus"]["measured"]))
    for n, ok, d in results:
        print(f"check {'ok  ' if ok else 'FAIL'} {n}: {d}")
    for e in record["errors"]:
        print(f"error {e}")
    for k, v in shown.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    for k, v in record["stage_s"].items():
        print(f"metric stage_s.{k} {v:.6g} s")

    if args.trace:
        layer, extra = per_layer(res, spans)
        untraced = _untraced_cold(args.workload)
        if untraced:
            extra["trace_overhead_s"] = e2e["cold_pass_s"] - statistics.median(untraced)
        record["per_layer"] = layer
        record["per_layer_extra"] = extra
        record["spans"] = spans
        for k, unit in PER_LAYER:
            print(f"layer {k} {layer[k]:.6g} {unit}")
        for k, v in extra.items():
            print(f"layer {k} {v:.6g} s")
        if not untraced:
            print("layer trace_overhead_s needs an untraced run of the workload in this checkout")
        print(f"spans {spans}")
        out = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    record["timing"] = {"generate_s": gen_s, "jvm_s": res["_jvm_s"],
                        "total_s": time.time() - t_start}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "results", name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    final = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}
    return (0 if correct else 1), final


def _untraced_cold(workload):
    """cold_pass_s of every untraced run of the workload in this checkout."""
    d = os.path.join(WORK, "results")
    out = []
    for f in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if f.startswith(f"{workload}-seed") and f.endswith("-trace0.json"):
            with open(os.path.join(d, f)) as fh:
                r = json.load(fh)
            if r["failed"] == 0:
                out.append(r["metrics"]["cold_pass_s"])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(COMPONENTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cp = ensure_build()
    rc, final = run_once(args, cp)
    print(json.dumps(final))
    sys.exit(rc)


if __name__ == "__main__":
    main()
