#!/usr/bin/env python3
"""Crystal-ball benchmark: builds the engine from source, generates the
workload's inputs from the seed, runs the workload's jobs in one JVM on every
core with one client thread (a closed loop), checks every job's output
against DuckDB, and prints the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The seed makes the inputs. Set-up runs each query once in a fresh session
(three set-ups at least), then `warm_rounds` untimed rounds follow. --seconds
sets the amount of timed work: the workload's queries run in their listed
order ceil(S / round_s) times, round_s being a round's measured time on the
seed code, so a run measures at least about S seconds and a faster engine
finishes sooner.
With --trace 0 the last stdout line carries the end-to-end metrics of
BENCHMARK.json; with --trace 1 it carries the per-layer metrics, measured by a
traced pass that follows an untraced one (their difference is the tracing
overhead). Inputs, outputs, spans and failure records of a run are kept under
.bench_build/runs/.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

SETUPS = 3
HEAP = "3g"
DEADLINE_S = 170
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "job_p50_s": "s", "job_tail_s": "s",
             "rows_per_s": "1/s", "failed_frac": "fraction", "peak_rss_mb": "MB"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def generate(spec, seed, data_dir):
    gen = spec["input"]["generator"]
    if gen == "gen_lineitem.py":
        import gen_lineitem
        return gen_lineitem.generate(seed, spec["input"]["scale_factor"], data_dir)
    import gen_wide_baskets
    os.makedirs(data_dir, exist_ok=True)
    return gen_wide_baskets.generate(seed, os.path.join(data_dir, "baskets.txt"))


def tail(latencies):
    """The highest percentile with at least ten jobs beyond it; the upper
    median when the run has too few jobs for that to lie above it."""
    xs = sorted(latencies)
    n = len(xs)
    k = max(n - 10, n // 2 + 1)  # 1-based rank
    return xs[k - 1], 100.0 * k / n


def layer_metrics(spans, traced_wall, untraced_wall, cpus):
    by_id = {s["id"]: s for s in spans}
    child_s = {}
    for s in spans:
        if s["parent"] in by_id:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]

    def named(name):
        return [s for s in spans if s["name"] == name]

    def self_s(name):
        return float(sum(s["end_s"] - s["start_s"] - child_s.get(s["id"], 0.0)
                         for s in named(name)))

    def total(key, pick=None):
        chosen = spans if pick is None else [s for s in spans if pick(s)]
        return float(sum(s["counts"].get(key, 0.0) for s in chosen))

    def of(*names):
        return lambda s: s["name"] in names

    engine = lambda s: s["name"] != "probe"  # noqa: E731
    emitted = total("pairs_emitted", of("CoOccurrence"))
    distinct = total("distinct_pairs", of("CoOccurrence"))
    probe_s = sum(s["end_s"] - s["start_s"] for s in named("probe"))
    task_run = total("task_run_s", engine)
    cb = of("CrystalBall.normalize", "CrystalBall.shape")
    return {
        "BasketSource.self_s": self_s("BasketSource"),
        "BasketSource.baskets_out": total("rows_out", of("BasketSource")),
        "BasketSource.shuffle_write_bytes": total("shuffle_write_bytes", of("BasketSource")),
        "CoOccurrence.self_s": self_s("CoOccurrence"),
        "CoOccurrence.pairs_emitted": emitted,
        "CoOccurrence.distinct_pairs": distinct,
        "CoOccurrence.combine_ratio": distinct / emitted if emitted else 0.0,
        "CoOccurrence.shuffle_write_bytes": total("shuffle_write_bytes", of("CoOccurrence")),
        "CoOccurrence.spill_bytes": total("spill_bytes", of("CoOccurrence")),
        "CrystalBall.normalize_self_s": self_s("CrystalBall.normalize"),
        "CrystalBall.shape_self_s": self_s("CrystalBall.shape"),
        "CrystalBall.shuffle_write_bytes": total("shuffle_write_bytes", cb),
        "CrystalBall.task_skew": max([s["task_skew"] for s in spans if cb(s)], default=0.0),
        "StreamingOps.batches": total("stream_batches"),
        "StreamingOps.addBatch_ms": total("stream_addBatch_ms"),
        "StreamingOps.walCommit_ms": total("stream_walCommit_ms"),
        "StreamingOps.commitOffsets_ms": total("stream_commitOffsets_ms"),
        "StreamingOps.queryPlanning_ms": total("stream_queryPlanning_ms"),
        "StreamingOps.state_commit_ms": total("state_commit_ms"),
        "StreamingOps.state_rows": total("state_rows"),
        "TableSink.write_s": total("table_write_s"),
        "TableSink.bytes_written": total("table_write_bytes"),
        "engine.planning_s": total("planning_s", engine),
        "engine.jobs": total("jobs", engine),
        "engine.stages": total("stages", engine),
        "engine.tasks": total("tasks", engine),
        "engine.idle_core_s": (traced_wall - probe_s) * cpus - task_run,
        "engine.task_run_s": task_run,
        "engine.task_cpu_s": total("task_cpu_s", engine),
        "engine.gc_s": total("gc_s", engine),
        "engine.shuffle_read_bytes": total("shuffle_read_bytes", engine),
        "engine.shuffle_write_bytes": total("shuffle_write_bytes", engine),
        "engine.spill_bytes": total("spill_bytes", engine),
        "engine.peak_exec_mem_bytes": max([s["counts"].get("peak_exec_mem_bytes", 0.0)
                                           for s in spans if engine(s)], default=0.0),
        "engine.failed_tasks": total("failed_tasks", engine),
        "tracing.untraced_wall_s": untraced_wall,
        "tracing.traced_wall_s": traced_wall,
        "tracing.overhead_s": traced_wall - untraced_wall,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    root = os.getcwd()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)[args.workload]
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    wanted = contract["per_layer" if args.trace else "end_to_end"]

    build_dir = os.path.join(root, ".bench_build")
    classes = build.build(root, build_dir)
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    input_stats = generate(spec, args.seed, data_dir)
    print(f"[perfbench] input {json.dumps(input_stats)}", flush=True)

    rounds = max(1, math.ceil(args.seconds / spec["round_s"]))
    jobs = spec["queries"] * rounds
    cpus = len(os.sched_getaffinity(0))
    spark_jars = build.spark_jars(root)
    queries = spec["queries"]
    setup_queries = [queries[i % len(queries)] for i in range(max(SETUPS, len(queries)))]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{spark_jars}", "graft.perfbench.Harness",
              "--workload", args.workload, "--data", data_dir, "--out", run_dir,
              "--cpus", str(cpus), "--setup", ",".join(setup_queries),
              "--warm", ",".join(queries * spec["warm_rounds"]),
              "--jobs", ",".join(jobs), "--trace", str(args.trace)])
    budget = DEADLINE_S - (time.monotonic() - started) - 15
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=max(budget, 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"[perfbench] harness exceeded {budget:.0f} s; see {log.name}")
    if code != 0:
        raise SystemExit(f"[perfbench] harness exited with {code}; see {run_dir}/harness.log")
    with open(os.path.join(run_dir, "harness.json")) as fh:
        res = json.load(fh)

    # correctness, outside the timed window: every job's output against DuckDB
    failures = list(res["failures"])
    checker = oracle.Oracle(data_dir, spec["input"]["tables"], cpus)
    checked = {}
    for label, ph in res["phases"].items():
        for job in ph["jobs"]:
            reason = checker.check(res["oracle"][job["query"]], job["out"]) if job["ok"] else "threw"
            checked[(label, job["index"])] = reason is None
            if job["ok"] and reason is not None:
                failures.append({"workload": args.workload, "phase": label, "job": job["index"],
                                 "query": job["query"], "kind": "mismatch", "detail": reason})
    first = spec["queries"][0]
    if "window_pairs" not in input_stats and "cnt" in checker.columns(res["oracle"][first]):
        pairs, distinct = checker.table_stats(res["oracle"][first], "sum(cnt), count(*)")
        input_stats.update(window_pairs=int(pairs), distinct_pairs=int(distinct),
                           combine_ratio=distinct / pairs)
    for label in res["phases"]:
        shutil.rmtree(os.path.join(run_dir, label), ignore_errors=True)
    for d in ("spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    timed = res["phases"]["timed"]
    lat = [j["seconds"] for j in timed["jobs"]]
    attempted = sum(len(ph["jobs"]) for ph in res["phases"].values())
    failed = sum(1 for ok in checked.values() if not ok)
    tail_s, tail_pct = tail(lat)
    wall = timed["wall_s"]
    setups = [j["setup_s"] for j in res["phases"]["setup"]["jobs"]]
    e2e = {
        "setup_s": (statistics.median(setups), len(setups)),
        "wall_s": (wall, 1),
        "job_p50_s": (statistics.median(lat), len(lat)),
        "job_tail_s": (tail_s, len(lat)),
        "rows_per_s": (input_stats["baskets"] * len(lat) / wall, len(lat)),
        "failed_frac": (failed / attempted, attempted),
        "peak_rss_mb": (res["peak_rss_mb"], 1),
    }
    units = dict(E2E_UNITS)
    units.update((m["name"], m["unit"]) for m in contract["end_to_end"] + contract["per_layer"])
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": cpus,
              "rounds": rounds, "jobs": jobs, "input": input_stats,
              "job_tail_percentile": tail_pct, "setup_runs_s": setups,
              "end_to_end": {k: {"value": v, "unit": units[k], "samples": n}
                             for k, (v, n) in e2e.items()},
              "phases": res["phases"], "failures": failures}
    for k, m in report["end_to_end"].items():
        print(f"[perfbench] {args.workload} {k} = {m['value']:.6g} {m['unit']} (n={m['samples']})")
    print(f"[perfbench] {args.workload} job_tail_s is p{tail_pct:.1f} of {len(lat)} jobs")
    values = {k: v for k, (v, _) in e2e.items()}
    if args.trace:
        values = layer_metrics(res["spans"], res["phases"]["traced"]["wall_s"],
                               res["phases"]["untraced"]["wall_s"], cpus)
        report["per_layer"] = values
        with open(os.path.join(run_dir, "spans.jsonl"), "w") as fh:
            for s in res["spans"]:
                fh.write(json.dumps(s) + "\n")
        for k, v in values.items():
            print(f"[perfbench] {args.workload} {k} = {v:.6g} {units.get(k, '')}")
    with open(os.path.join(run_dir, "failures.jsonl"), "w") as fh:
        for f in failures:
            fh.write(json.dumps(f) + "\n")
            print(f"[perfbench] FAILED {json.dumps(f)[:600]}", file=sys.stderr)
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}}))


if __name__ == "__main__":
    main()
