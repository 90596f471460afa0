#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the engine and the benchmark
(`perfbench/build.py`), generates the harness tables once per build
directory, and runs the workload in a fresh `local[nproc]` session:

  * a cold pass (timed); each query op's output is compared, outside its
    timer, with the committed digests (`perfbench/expected.tsv`);
  * the workload's measured number of untimed warm-up passes;
  * timed passes until `--seconds` have elapsed and, without tracing, at
    least 40 op latencies are in. With `--trace 1` they run in quads of
    untraced, traced, traced, untraced passes; the traced ones time and
    count each layer;
  * for `etl_daily`, the loaded Parquet is compared with the generator's
    ground truth.

`--seed` sets the op order in a pass and generates `etl_daily`'s input.
It prints one self-describing record line (`{"record": ...}`) and, last,
the result line: `correct`, `attempted`, `failed` and the metrics of
BENCHMARK.json (end-to-end without tracing, per-layer with it).
Workloads and the layer-to-metric predictions: `perfbench/WORKLOADS.md`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing into perfbench/
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

SETUP_SAMPLES = 3          # process start -> Sessions.local returns, median
RUN_TIMEOUT_S = 170
TABLES_SF = "0.01"         # the scale factor the query workloads read

# End-to-end metrics with a bound in BENCHMARK.json, then the ones only the
# record carries: a single cold pass per process spreads too widely across
# runs to bound, failed_frac is 0 when healthy, and only etl_daily writes.
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("peak_rss_mb", "MB")]
RECORD_ONLY = [("cold_wall_s", "s"), ("failed_frac", "ratio"), ("out_bytes_per_in_byte", "ratio")]

# Per-layer metrics and units; a layer a workload does not call reads 0.
PER_LAYER = [
    ("Sessions.local_s", "s"),
    ("Tables.open_s", "s"), ("Tables.open_jobs", "count"),
    ("Queries.build_s", "s"), ("Queries.build_jobs", "count"), ("Queries.build_tasks", "count"),
    ("plan_s", "s"), ("plan.exchanges", "count"), ("plan.final_exchanges", "count"),
    ("execute_s", "s"), ("execute.jobs", "count"), ("execute.stages", "count"),
    ("execute.tasks", "count"), ("execute.task_run_s", "s"), ("execute.task_cpu_s", "s"),
    ("execute.gc_s", "s"), ("execute.core_fill", "ratio"),
    ("execute.shuffle_write_bytes", "bytes"), ("execute.shuffle_read_bytes", "bytes"),
    ("execute.spill_bytes", "bytes"), ("execute.peak_exec_mem_bytes", "bytes"),
    ("Checkpoints.pinned_rdds", "count"), ("Checkpoints.release_s", "s"),
    ("JsonArtifacts.read_s", "s"), ("JsonArtifacts.read_jobs", "count"),
    ("SpotifyPipeline.transform_s", "s"),
    ("SpotifyPipeline.write_s", "s"), ("SpotifyPipeline.write_jobs", "count"),
    ("SpotifyPipeline.write_files", "count"), ("SpotifyPipeline.write_bytes", "bytes"),
    ("SpotifyPipeline.out_bytes_per_in_byte", "ratio"),
    ("trace.overhead_frac", "ratio"), ("trace.span_cover_error", "ratio"),
    ("trace.inexact_counters", "count"),
]
# Counters that depend on the work done, not on timing; each is reported
# as exact (same in every traced pass) or with its spread.
COUNTERS = [n for n, u in PER_LAYER if u in ("count", "bytes") and not n.startswith("trace.")]
PLANTED_JOBS = 3           # jobs of the planted op in Run.planted (Main.scala)
# Per op: |median traced build+plan+execute / median untraced op wall - 1|.
# Over six samples a side, sub-second ops differ by a standard deviation
# of 0.05-0.08 between the two kinds of pass (perfbench/WORKLOADS.md).
SPAN_COVER_BOUND = 0.3


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """(percentile, value) at the highest of p99/p95/p90/p75/p50 with at
    least ten samples beyond it (nearest rank)."""
    s = sorted(xs)
    for p in (99, 95, 90, 75, 50):
        k = math.ceil(p / 100 * len(s))
        if len(s) - k >= 10:
            return p, s[k - 1]
    return 50, median(s)


def read_text(path):
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return ""


def mem_total_kb():
    with open("/proc/meminfo") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))


def steal_s():
    """Seconds of CPU time the hypervisor gave to other guests (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cmd, log, timeout):
    """Runs a JVM, stderr to `log`; returns (spawn epoch ms, stdout lines)."""
    t = time.time() * 1000
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {cmd[-8:]} timed out after {timeout} s")
    if p.returncode != 0:
        sys.stderr.write(Path(log).read_text()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {p.returncode}")
    return t, out.splitlines()


def ready_ms(lines):
    return next(float(l.split()[1]) for l in lines if l.startswith("PERFBENCH_READY "))


def ensure_tables(root, classes, build_dir, sf, log):
    """Generates the harness tables at `sf` once per generator version."""
    data = build_dir / "data"
    target = data / f"sf{sf}"
    stamp = target / ".stamp"
    gen = Path(__file__).resolve().parent / "src" / "perfbench" / "TableGen.scala"
    stamp_src = hashlib.sha256(gen.read_bytes()).hexdigest()
    if stamp.is_file() and stamp.read_text() == stamp_src:
        return
    shutil.rmtree(target, ignore_errors=True)
    tmp = data / f"sf{sf}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    run_jvm(build.java_command(root, classes, log.parent, ["gen", sf, str(tmp)]), log, 600)
    (tmp / ".stamp").write_text(stamp_src)
    tmp.rename(target)


def layer_metrics(rec):
    """Per-layer values: medians over the traced passes."""
    traced = [p for p in rec["passes"] if p["kind"] == "traced"]
    untraced = [p for p in rec["passes"] if p["kind"] == "timed"]
    out = {}
    for name, _ in PER_LAYER:
        vals = [p["layers"].get(name, 0.0) for p in traced]
        out[name] = median(vals) if vals else 0.0
    out["Sessions.local_s"] = rec["Sessions.local_s"]
    out["trace.overhead_frac"] = median([p["wall"] for p in traced]) / median([p["wall"] for p in untraced]) - 1
    # Per op: median traced build+plan+execute over median untraced wall.
    # The metric is the largest distance of an op's ratio from 1.
    def op_median(passes, i):
        return median([p["lat"][i] for p in passes if p["lat"][i] is not None])
    cover = {op: op_median(traced, i) / op_median(untraced, i) for i, op in enumerate(rec["ops"])}
    out["trace.span_cover_error"] = max(abs(r - 1) for r in cover.values())
    exactness = {}
    for name in COUNTERS:
        vals = [p["layers"].get(name, 0.0) for p in traced]
        lo, hi, mid = min(vals), max(vals), median(vals)
        exactness[name] = "exact" if lo == hi else round((hi - lo) / mid, 4) if mid else hi - lo
    out["trace.inexact_counters"] = float(sum(1 for v in exactness.values() if v != "exact"))
    if rec["in_bytes"]:
        wb = out["SpotifyPipeline.write_bytes"]
        out["SpotifyPipeline.out_bytes_per_in_byte"] = wb / rec["in_bytes"]
    return out, exactness, cover


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="board_sf001 or etl_daily")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    build_dir = (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    build_dir.mkdir(parents=True, exist_ok=True)
    load_start, steal_start = read_text("/proc/loadavg"), steal_s()
    classes, src_stamp = build.build(root, build_dir)
    work = build_dir / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    log = work / "jvm.log"
    try:
        ensure_tables(root, classes, build_dir, TABLES_SF, log)
        setups = []
        for _ in range(SETUP_SAMPLES - 1):
            t, lines = run_jvm(build.java_command(root, classes, work, ["setup"]), log, 120)
            setups.append((ready_ms(lines) - t) / 1000)
        cmd = build.java_command(root, classes, work, [
            "run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
            str(build_dir / "data"), str(work), str(root / "perfbench" / "expected.tsv")])
        t, lines = run_jvm(cmd, log, RUN_TIMEOUT_S - 30)
        setups.append((ready_ms(lines) - t) / 1000)
        rec = json.loads(next(l for l in lines if l.startswith("PERFBENCH "))[len("PERFBENCH "):])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    timed = [p for p in rec["passes"] if p["kind"] == "timed"]
    cold = next(p for p in rec["passes"] if p["kind"] == "cold")
    lats = [x for p in timed for x in p["lat"] if x is not None]
    tail_p, tail_v = tail(lats)
    attempted, failed = rec["attempted"], rec["failed"]
    e2e = {
        "setup_s": median(setups),
        "cold_wall_s": cold["wall"],
        "failed_frac": failed / attempted,
        "out_bytes_per_in_byte": rec["out_bytes"] / rec["in_bytes"] if rec["in_bytes"] else None,
        "wall_s": median([p["wall"] for p in timed]),
        "op_p50_s": median(lats),
        "op_tail_s": tail_v,
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    correct = failed == 0
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "local_width": rec["cores"],
        "mem_total_kb": mem_total_kb(), "xmx_mb": build.heap_mb(),
        "jvm_max_heap_mb": rec["max_heap_mb"],
        "loadavg_start": load_start, "loadavg_end": read_text("/proc/loadavg"),
        "host_steal_s": round(steal_s() - steal_start, 2),
        "commit": git_commit(root), "source_sha256": src_stamp,
        "ops": rec["ops"], "warmup_passes": rec["warmups"],
        "pass_walls": {k: [round(p["wall"], 4) for p in rec["passes"] if p["kind"] == k]
                       for k in ("cold", "warmup", "timed", "traced")},
        "setup_samples_s": setups,
        "op_median_s": {op: median([p["lat"][i] for p in timed if p["lat"][i] is not None])
                        for i, op in enumerate(rec["ops"])},
        "op_samples": len(lats), "op_tail_percentile": tail_p,
        "failures": rec["failures"][:20],
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END + RECORD_ONLY},
    }
    if a.trace:
        layers, exactness, cover = layer_metrics(rec)
        record["per_layer"] = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
        record["counter_exactness"] = exactness
        record["span_cover_by_op"] = cover
        planted = next(p for p in rec["passes"] if p["kind"] == "traced")["layers"].get("trace.planted_jobs", 0)
        record["planted_op_jobs"] = planted
        planted_ok = planted == PLANTED_JOBS
        cover_ok = all(abs(r - 1) <= SPAN_COVER_BOUND for r in cover.values())
        record["planted_op_charged_exactly"] = planted_ok
        record["span_cover_within_bound"] = cover_ok
        correct = correct and planted_ok and cover_ok
        metrics = record["per_layer"]
    else:
        metrics = {k: record["end_to_end"][k] for k, _ in END_TO_END}
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
