#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload floor --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the library and the harness from
source (once per source change), generates the workload's inputs from the
seed, runs the workload closed-loop in one JVM at local[N] (N = the CPUs
this process may use), checks every output, writes a self-describing
result file (and, with --trace 1, a trace file) under perfbench/.out/, and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Any build error, JVM failure or unwritable output exits
non-zero with a message on stderr and prints no result.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
# the frozen workload definitions (the self-tests point this at tiny ones)
CONFIG = os.path.join(BENCH, "workloads.json")

import build  # noqa: E402
import datagen  # noqa: E402
import stats  # noqa: E402

# a fixed heap (initial = maximum) keeps G1's resizing out of peak RSS
HEAP = "2g"
# the JVM's share of the 180 s a run may take after the build
JVM_LIMIT_S = 140
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
MODULES = ["rel", "text", "sim", "vec", "graph", "ml", "mm", "sources"]

# (name, unit, better) — BENCHMARK.json lists the same names; the
# self-tests hold the two in step.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("latency_p50_s", "s", "lower"),
    ("throughput_per_s", "1/s", "higher"),
]
PER_LAYER = (
    [("setup.datagen_s", "s"), ("setup.session_s", "s"), ("setup.warmup_s", "s")]
    + [(f"graft.{m}.{k}", u) for m in MODULES for k, u in (("build_s", "s"), ("eager_jobs", "count"))]
    + [("graft.Tables.scan_jobs", "count"), ("catalyst.plan_s", "s")]
    + [(f"spark.{k}", u) for k, u in (
        ("jobs", "count"), ("aqe_stage_jobs", "count"), ("checkpoint_jobs", "count"),
        ("stages", "count"), ("tasks", "count"), ("task_s", "s"), ("task_cpu_s", "s"),
        ("gc_s", "s"), ("sched_wait_s", "s"), ("driver_gap_s", "s"), ("parallel_eff", "ratio"),
        ("task_skew", "ratio"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB"), ("tasks_failed", "count"), ("driver_collect_rows_max", "rows"))]
    + [(f"graft.ml.Trainers.{k}", "s") for k in (
        "epoch_s", "sgd_task_s", "merge_s", "driver_apply_s", "single_epoch_s", "single_sgd_task_s")]
    + [("graft.ml.Predictor.score_task_s", "s")]
    + [("train.accuracy", "ratio"), ("train.accuracy_gap", "ratio"),
       ("train.single_examples_per_s", "1/s"), ("train.score_rows_per_s", "1/s")]
    + [("self.graft_s", "s"), ("self.plan_s", "s"), ("self.execute_s", "s"),
       ("self.job_s", "s"), ("self.op_s", "s")]
    + [("load.overlap_mean", "ratio"), ("load.overlap_max", "ratio")]
    + [("trace.overhead_ratio", "ratio"), ("trace.spans_per_op", "count")]
)


class BenchError(RuntimeError):
    pass


def load_config(path):
    with open(path) as fh:
        return json.load(fh)["workloads"]


def cpus():
    return len(os.sched_getaffinity(0))


def result_stem(workload, seed, trace):
    """Path stem of a run's result files. The CPU count and the source
    digest are part of the name, so a run on other code or another core
    count never overwrites an earlier result."""
    return os.path.join(BENCH, ".out",
                        f"{workload}-seed{seed}-trace{trace}-cpus{cpus()}-{build.stamp()[:12]}")


def git_state(root):
    """(sha, dirty) of the checkout, or (None, None) outside a git tree."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, check=True).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"], cwd=root,
                               capture_output=True, text=True, check=True).stdout.strip() != ""
        return sha, dirty
    except (OSError, subprocess.CalledProcessError):
        return None, None


def make_inputs(wl, seed, data_dir):
    """Writes the workload's inputs; returns (header fields, seconds)."""
    t0 = time.perf_counter()
    if wl["data"] == "star":
        rows = datagen.write_star(data_dir, seed, wl["sf"])
        info = {"rows": rows, "sf": wl["sf"],
                "near_dup_share": rows.pop("near_dup_documents") / rows["documents"]}
    else:  # generated inside the JVM from the same seed
        info = {"rows": {"train": wl["train_rows"], "test": wl["test_rows"]}}
    return info, time.perf_counter() - t0


def run_jvm(classes, args, work, log_path, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM exceeded {budget_s:.0f} s; log: {log_path}")
        finally:
            # on a timeout, an error or SIGTERM/SIGINT, never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"JVM exited with {code}; log tail:\n{tail}")
    return t0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def self_times(spans, n_ops):
    """Per-op self time (span minus its children), by span name."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        own = (s["durNs"] - sum(c["durNs"] for c in children.get(s["id"], []))) / 1e9
        out[s["name"]] = out.get(s["name"], 0.0) + max(own, 0.0) / max(n_ops, 1)
    return out


def self_metrics(by_name):
    """Folds the self-time table into the per-layer metrics; the spans
    around library calls (graft.*) count as self.graft_s."""
    layer = {"catalyst.plan": "self.plan_s", "spark.execute": "self.execute_s",
             "spark.job": "self.job_s", "op": "self.op_s"}
    out = {k: 0.0 for k in ("self.graft_s", "self.plan_s", "self.execute_s", "self.job_s", "self.op_s")}
    for name, v in by_name.items():
        out["self.graft_s" if name.startswith("graft.") else layer[name]] += v
    return out


def layer_metrics(raw, main_ops, setup, checks, spans):
    traced = [o for o in raw["ops"] if o["traced"]]
    per_op = {}
    for o in traced:
        for k, v in o["layers"].items():
            per_op.setdefault(k, []).append(v)
    m = {k: (max(v) if k == "spark.driver_collect_rows_max" else mean(v)) for k, v in per_op.items()}
    m.update({f"setup.{k}": v for k, v in setup.items()})
    m.update(checks.get("train_metrics", {}))
    main_traced = [o for o in main_ops if o["traced"]]
    m.update(self_metrics(self_times(spans, len(traced))))
    loads = [o["loadOverlap"] for o in raw["ops"]]
    m["load.overlap_mean"] = mean(loads)
    m["load.overlap_max"] = max(loads, default=0.0)
    bare = sum(o["wallS"] for o in main_ops if not o["traced"])
    m["trace.overhead_ratio"] = (sum(o["wallS"] for o in main_traced) / bare - 1.0) if bare else 0.0
    m["trace.spans_per_op"] = len(spans) / max(len(traced), 1)
    return {name: {"value": float(m.get(name, 0.0)), "unit": unit} for name, unit in PER_LAYER}


def check_registry(raw, data_dir, work):
    """Oracle-compares each key's dumped result; returns {key: reason} for
    every mismatch or error."""
    import oracle  # duckdb is only needed by the registry workloads
    out = os.path.join(work, "out")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    o = oracle.Oracle(data_dir, os.path.join(BENCH, ".cache", "oracle"),
                      os.path.join(work, "duckdb-tmp"), cpus())
    bad = dict(raw["checks"]["dump_errors"])
    seconds = {}
    for key in raw["header"]["keys"]:
        if key not in bad:
            t0 = time.perf_counter()
            why = o.check(key, sql[key], os.path.join(out, "dumps", key))
            seconds[key] = time.perf_counter() - t0
            if why:
                bad[key] = why
    raw["checks"]["oracle_key_s"] = seconds
    return bad


def check_train(raw, wl):
    """Correctness of the training workload: held-out accuracy above the
    stated floor, finite weights and losses, identical weights from two
    trainings with the same seed and partitioning. Returns ({op group or
    rule: reason}, train metrics)."""
    c = raw["checks"]
    floor = wl["accuracy_floor"]
    bad = {}
    for rule in wl["rules"]:
        acc = c["accuracy"].get(rule)
        loss = c["test_loss"].get(rule)
        if acc is None or acc < floor:
            bad[rule] = f"held-out accuracy {acc} below floor {floor}"
        elif loss is None or not math.isfinite(loss):
            bad[rule] = f"held-out loss {loss} not finite"
        elif not c["deterministic"].get(rule):
            bad[rule] = "two trainings with the same seed gave different weights"
    if not c["weights_finite"]:
        for rule in wl["rules"]:
            bad.setdefault(rule, "non-finite weights")
    single = c["single_accuracy"]
    if single is None or single < floor:
        bad["single"] = f"single-worker accuracy {single} below floor {floor}"
    def rate(group):
        ops = [o for o in raw["ops"] if o["group"] == group and not o["traced"]]
        return sum(o["work"] for o in ops) / max(sum(o["wallS"] for o in ops), 1e-9)

    dist_acc = c["accuracy"].get(wl["rules"][0], 0.0)
    metrics = {
        "train.accuracy": dist_acc,
        "train.accuracy_gap": (single or 0.0) - dist_acc,
        "train.single_examples_per_s": rate("train_single"),
        "train.score_rows_per_s": rate("train_score"),
    }
    return bad, metrics


def run(args):
    root = os.getcwd()
    config = load_config(CONFIG)
    if args.workload not in config:
        raise BenchError(f"unknown workload '{args.workload}'; known: {', '.join(config)}")
    wl = config[args.workload]
    classes = build.ensure(root)

    work = os.path.join(BENCH, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data_dir, out_dir = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(data_dir)
    os.makedirs(out_dir)
    t_run = time.time()
    info, datagen_s = make_inputs(wl, args.seed, data_dir)
    sha, dirty = git_state(root)
    meta = dict(info, git_sha=sha, git_dirty=dirty, source_sha256=build.stamp(),
                python=sys.version.split()[0])
    meta_path = os.path.join(work, "meta.json")
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--cpus", str(cpus()),
                "--config", CONFIG, "--data", data_dir,
                "--work", work, "--out", out_dir, "--meta", meta_path]
    popen_t = run_jvm(classes, jvm_args, work, os.path.join(work, "jvm.log"),
                      JVM_LIMIT_S - (time.time() - t_run))
    with open(os.path.join(out_dir, "raw.json")) as fh:
        raw = json.load(fh)
    checks = raw["checks"]

    group = "train" if args.workload == "train" else args.workload
    main_ops = [o for o in raw["ops"] if o["group"] == group]
    if args.workload == "train":
        bad, train_metrics = check_train(raw, wl)
        checks["train_metrics"] = train_metrics
        failed_ops = [o for o in raw["ops"] if not o["ok"]
                      or o["name"] in bad or (o["group"] == "train_single" and "single" in bad)]
        datagen_s = checks["datagen_s"]
    else:
        t_oracle = time.time()
        bad = check_registry(raw, data_dir, work)
        checks["oracle_s"] = time.time() - t_oracle
        failed_ops = [o for o in raw["ops"] if not o["ok"] or o["name"] in bad]
    setup = {"datagen_s": datagen_s, "session_s": raw["ready_ms"] / 1e3 - popen_t,
             "warmup_s": checks["warmup_s"]}

    bare = [o for o in main_ops if not o["traced"]]
    walls = [o["wallS"] for o in bare]
    # Each operation's cost is the fastest of its samples: co-tenant load
    # only ever adds time, so the minimum is the run's estimate of the
    # code's own cost. Every operation runs equally often (whole passes).
    # A floor pass outlasts --seconds 8, so there each key has exactly one
    # sample and the minimum filters nothing; the median over keys does.
    by_name = {}
    for o in bare:
        by_name.setdefault(o["name"], []).append(o)
    best = {k: min(o["wallS"] for o in v) for k, v in by_name.items()}
    e2e = {
        "setup_s": sum(setup.values()),
        "peak_rss_mb": raw["peak_rss_mb"],
        "latency_p50_s": stats.median(list(best.values())),
        "throughput_per_s": sum(v[0]["work"] for v in by_name.values()) / max(sum(best.values()), 1e-9),
    }
    spans = []
    if args.trace:
        with open(os.path.join(out_dir, "trace.json")) as fh:
            spans = json.load(fh)["spans"]
        metrics = layer_metrics(raw, main_ops, setup, checks, spans)
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u, _ in END_TO_END}

    p95 = stats.p95(walls)
    result = {
        "header": raw["header"],
        "metrics": metrics,
        "end_to_end": e2e,
        "latency_p95_s": p95,
        "latency_samples": len(walls),
        "latency_p95_note": "reported only when at least 10 samples lie beyond it (n >= 200)",
        "setup": setup,
        "self_s_per_op": self_times(spans, sum(1 for o in raw["ops"] if o["traced"])),
        "load_overlap_run": raw["load_overlap_run"],
        "failures": bad,
        "checks": checks,
        "ops": raw["ops"],
    }
    stem = result_stem(args.workload, args.seed, args.trace)
    os.makedirs(os.path.dirname(stem), exist_ok=True)
    with open(stem + ".result.json", "w") as fh:
        json.dump(result, fh, indent=1)
    if args.trace:
        shutil.copyfile(os.path.join(out_dir, "trace.json"), stem + ".trace.json")

    for key, why in sorted(bad.items()):
        print(f"[perfbench] FAILED {key}: {why}")
    print(f"[perfbench] {args.workload} seed={args.seed}: {len(bare)} timed ops, "
          f"load_overlap={raw['load_overlap_run']:.3f}, result {os.path.relpath(stem, root)}.result.json")
    return {"correct": not bad and not failed_ops, "attempted": len(raw["ops"]),
            "failed": len(failed_ops), "metrics": metrics}


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        line = run(args)
    except (BenchError, build.BuildError, OSError, KeyError, ValueError) as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        return 1
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
