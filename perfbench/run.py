#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run it from the root of a source checkout. It builds the engine and the
harness (perfbench/build.py), generates the seeded corpus (perfbench/gen.py),
runs the harness in one JVM (perfbench/src/perfbench/Harness.scala), checks
every key's output against its DuckDB oracle (perfbench/oracle.py) and
prints, as its last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing into the source tree

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# name -> keys (each with the operator module its SparkEntry.queries entry
# calls), corpus (base sf, copies), warm-up corpus (base sf, copies), and
# pass_s, the warm pass time on a 4-vCPU box. Both corpora are drawn from
# the run's seed.
WORKLOADS = {
    "curation": dict(
        keys={"bpe_apply": "TextAnalysis", "q_hits": "Relational", "q_pagerank": "Dedup",
              "mr_inverted_index": "TextMapReduce"},
        corpus=(0.01, 2), warmup=(0.01, 1), pass_s=1.2),
    "ingest": dict(
        keys={"stream_dedup": "streaming.EventStreams", "q_sink_merge": "sources.Formats"},
        corpus=(0.01, 1), warmup=(0.001, 1), pass_s=2.1),
    # not listed in BENCHMARK.json: its traced run gives the README's
    # baseline counter table for the keys the ROADMAP's fixed-cost work targets
    "baseline": dict(
        keys={"ann_maintain": "AnnIndex", "q_hits": "Relational",
              "text_unigram_apply": "TextAnalysis", "q_pagerank": "Dedup",
              "pipeline_shard_write": "Pipeline"},
        corpus=(0.01, 1), warmup=(0.001, 1), pass_s=6.5),
}
# the operator modules the BENCHMARK.json workloads call (eager time per module)
MODULES = ["Relational", "TextMapReduce", "Dedup", "TextAnalysis", "sources.Formats",
           "streaming.EventStreams"]
# Cold passes per run, each over its own path copy of the corpus, so each
# misses the artifacts memoized for the copy before; cold_pass_s is their
# median.
COLD_PASSES = 3
# A run makes max(MIN_WARM_PASSES, ceil(seconds / pass_s)) warm passes: a
# fixed count, so counters and leaked disk compare across runs, and enough
# that the median sits past the JIT warm-up of the first ones.
MIN_WARM_PASSES = 7
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
HARNESS_TIMEOUT_S = 170

# per-layer metrics, each reported for the cold passes and the warm passes
LAYER = [
    ("operators.eager_s", "s", "lower"), ("operators.action_s", "s", "lower"),
    ("operators.eager_jobs", "count", "lower"),
    *[(f"operators.{m}.eager_s", "s", "lower") for m in MODULES],
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"), ("spark.task_failures", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"), ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"), ("spark.core_busy_frac", "ratio", "higher"),
    ("spark.shuffle_write_mb", "MB", "lower"), ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.input_mb", "MB", "lower"), ("spark.output_mb", "MB", "lower"),
    ("catalyst.analysis_s", "s", "lower"), ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("codegen.compiles", "count", "lower"), ("codegen.compile_s", "s", "lower"),
    ("artifacts.cached_mb", "MB", "lower"), ("artifacts.cached_rdds", "count", "lower"),
    ("artifacts.tmp_disk_mb", "MB", "lower"), ("artifacts.growth_mb_per_pass", "MB", "lower"),
    ("scratch.pending", "count", "lower"), ("scratch.release_s", "s", "lower"),
    ("streaming.batches", "count", "lower"), ("streaming.batch_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"), ("streaming.input_rows", "count", "higher"),
    ("streaming.state_rows", "count", "lower"), ("streaming.state_mb", "MB", "lower"),
    ("driver.self_s", "s", "lower"),
]
TRACE_EXTRA = [("trace.overhead_s", "s", "lower"), ("trace.overhead_frac", "ratio", "lower")]
END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
              ("peak_rss_mb", "MB"), ("live_heap_mb", "MB"), ("held_disk_mb", "MB")]


def passes_of(res, kind):
    return [p for p in res["passes"] if p["kind"] == kind]


def pass_layer(p, cores, modules):
    """Per-layer values of one pass, summed over its key calls."""
    v = {name: 0.0 for name, _, _ in LAYER}
    for c in p["calls"]:
        for name, x in c["counters"].items():
            if name in v:
                v[name] += x
        v["operators.eager_s"] += c["eager_s"]
        v["operators.action_s"] += c["action_s"]
        if modules[c["key"]] in MODULES:
            v[f"operators.{modules[c['key']]}.eager_s"] += c["eager_s"]
        v["codegen.compiles"] += c["compiles"]
        v["codegen.compile_s"] += c["compile_s"]
        v["scratch.pending"] += c["scratch_pending"]
        v["scratch.release_s"] += c["release_s"]
        v["driver.self_s"] += c["self_s"]
    v["spark.core_busy_frac"] = v["spark.executor_run_s"] / (p["wall_s"] * cores)
    v["artifacts.cached_mb"] = p["cached_mb"]
    v["artifacts.cached_rdds"] = p["cached_rdds"]
    v["artifacts.tmp_disk_mb"] = p["tmp_disk_mb"]
    return v


def layer_metrics(res, modules):
    """Each per-layer metric as the median over the cold passes (.cold) and
    over the traced warm passes (.warm), plus the tracing overhead."""
    passes = res["passes"]  # warm-up, colds, warms, check
    foot = [p["cached_mb"] + p["tmp_disk_mb"] for p in passes]
    ncold = len(passes_of(res, "cold"))
    cold = [pass_layer(p, res["cores"], modules) for p in passes[1:1 + ncold]]
    for i, v in enumerate(cold, 1):  # what each cold pass adds to the footprint before it
        v["artifacts.growth_mb_per_pass"] = foot[i] - foot[i - 1]
    warm = [p for p in passes_of(res, "warm") if p["traced"]]
    lw = [pass_layer(p, res["cores"], modules) for p in warm]
    # mean growth per warm pass: a release that frees nothing shows here
    nwarm = len(passes_of(res, "warm"))
    growth_warm = (foot[ncold + nwarm] - foot[ncold]) / nwarm
    metrics = {}
    for name, unit, _ in LAYER:
        metrics[f"{name}.cold"] = {"value": statistics.median(x[name] for x in cold), "unit": unit}
        wv = growth_warm if name == "artifacts.growth_mb_per_pass" else \
            statistics.median(x[name] for x in lw)
        metrics[f"{name}.warm"] = {"value": wv, "unit": unit}
    tw = statistics.median(p["wall_s"] for p in warm)
    uw = statistics.median(p["wall_s"] for p in passes_of(res, "warm") if not p["traced"])
    overhead = {"trace.overhead_s": tw - uw, "trace.overhead_frac": (tw - uw) / uw}
    metrics.update({n: {"value": overhead[n], "unit": u} for n, u, _ in TRACE_EXTRA})
    return metrics


def key_table(res, modules):
    """Per-key counters of the first cold pass and the first traced warm pass."""
    rows = []
    warm = next(p for p in passes_of(res, "warm") if p["traced"])
    for p in (passes_of(res, "cold")[0], warm):
        for c in sorted(p["calls"], key=lambda c: c["key"]):
            n = c["counters"]
            rows.append([p["kind"], c["key"], modules[c["key"]], int(n.get("spark.jobs", 0)),
                         int(n.get("spark.stages", 0)), c["compiles"],
                         int(n.get("operators.eager_jobs", 0)),
                         round(c["eager_s"], 3), round(c["action_s"], 3), round(c["self_s"], 3)])
    return ["pass", "key", "module", "jobs", "stages", "compiles", "eager_jobs",
            "eager_s", "action_s", "self_s"], rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    w = WORKLOADS[args.workload]
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    base = os.path.join(build_dir, "perfbench")

    try:
        classpath = build.build(root, build_dir)
        jars = build.spark_jars()
    except Exception as e:  # no sources, no toolchain, or a compile error
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 1

    data = os.path.join(base, "data")
    wsf, wcopies = w["warmup"]
    warm_dir = gen.write_corpus(os.path.join(data, f"seed{args.seed}-sf{wsf}x{wcopies}"),
                                args.seed, wsf, wcopies)
    csf, ccopies = w["corpus"]
    corpus = gen.write_corpus(os.path.join(data, f"seed{args.seed}-sf{csf}x{ccopies}"),
                              args.seed, csf, ccopies)
    corpora = gen.path_copies(corpus, COLD_PASSES)

    run_dir = os.path.join(base, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        return measure(args, w, classpath, jars, warm_dir, corpus, corpora, run_dir, base)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, w, classpath, jars, warm_dir, corpus, corpora, run_dir, base):
    out, tmp, local = (os.path.join(run_dir, d) for d in ("out", "tmp", "local"))
    for d in (out, tmp, local):
        os.makedirs(d)
    keys, modules = list(w["keys"]), w["keys"]
    cmd = ["java", *[x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath + os.pathsep + os.path.join(jars, "*"), "perfbench.Harness",
           "--workload", args.workload, "--keys", ",".join(keys),
           "--warmup-dir", warm_dir, "--corpora", ",".join(corpora), "--seed", str(args.seed),
           "--warm-passes", str(max(MIN_WARM_PASSES, math.ceil(args.seconds / w["pass_s"]))),
           "--trace", str(args.trace), "--out", out, "--local-dir", local]
    log_path = os.path.join(run_dir, "harness.log")
    launch_us = time.time_ns() // 1000
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + ["--launch-us", str(launch_us)], stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        sys.stderr.write(open(log_path).read()[-4000:])
        print(f"[perfbench] harness failed: {rc}", file=sys.stderr)
        return 1
    t_jvm = time.time_ns() // 1000
    res = json.load(open(os.path.join(out, "result.json")))
    checks = oracle.check(out, corpus, keys, os.path.join(run_dir, "duckdb"))
    print(f"[perfbench] jvm {(t_jvm - launch_us) / 1e6:.1f} s, "
          f"check {(time.time_ns() // 1000 - t_jvm) / 1e6:.1f} s", file=sys.stderr)

    calls = [c for p in res["passes"] for c in p["calls"]]
    bad_calls = [f"{c['key']}: {c['error']}" for c in calls if c["error"]]
    bad_checks = [f"{k}: {why}" for k, why in checks.items() if why]
    attempted = len(calls) + len(checks)
    failed = len(bad_calls) + len(bad_checks)
    for line in bad_calls + bad_checks:
        print(f"[perfbench] FAILED {line}", file=sys.stderr)

    if args.trace:
        metrics = layer_metrics(res, modules)
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        stem = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}")
        shutil.copy(os.path.join(out, "trace.jsonl"), stem + ".trace.jsonl")
        head, rows = key_table(res, modules)
        with open(stem + ".keys.tsv", "w") as f:
            f.write("\n".join("\t".join(map(str, r)) for r in [head] + rows) + "\n")
        for r in [head] + rows:
            print("  ".join(f"{str(x):>10}" if i > 2 else f"{str(x):<22}"[:22]
                            for i, x in enumerate(r)), file=sys.stderr)
    else:
        values = {"setup_s": res["setup_s"],
                  "cold_pass_s": statistics.median(p["wall_s"] for p in passes_of(res, "cold")),
                  "warm_pass_s": statistics.median(p["wall_s"] for p in passes_of(res, "warm")),
                  **{n: res[n] for n in ("peak_rss_mb", "live_heap_mb", "held_disk_mb")}}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
        print(f"[perfbench] {args.workload} seed={args.seed} "
              + " ".join(f"{n}={values[n]:.4g}{u}" for n, u in END_TO_END)
              + f" failed_frac={failed / attempted:.4g}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
