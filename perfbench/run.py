"""Benchmark of the inundation/curation engine: one workload, one seed.

    python3 perfbench/run.py --workload inundate --seed 1 --seconds 15 --trace 0

Builds the engine from source (perfbench/build.py), runs the workload in a
JVM of its own, checks the outputs, and prints the metrics: a readable report
first, then one JSON line with `correct`, `attempted`, `failed` and
`metrics` as the last line of standard output. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json; with --trace 1 the per-layer
ones, and the report adds every module's layer metrics. See README.md.
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
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("inundate", "crawl_increment", "dedup")
HEAP = "3g"
JVM_TIMEOUT_S = 165
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# what one operation is, per workload, for the report
OP_NAME = {"inundate": "flagship action", "crawl_increment": "batch commit",
           "dedup": "curate + dupComponents + incrementalDedup"}
# per-layer metrics every workload reports (BENCHMARK.json "per_layer"):
# spark.* per untraced operation, jvm.* over the run's measured window.
# Task GC time is not among them: short tasks mostly report 0.
SPARK_COUNTERS = ["task_cpu_s", "task_run_s", "shuffle_write_bytes", "spill_bytes",
                  "broadcast_bytes", "idle_slot_s", "planning_s", "jobs", "tasks", "tasks_failed"]
JVM_COUNTERS = ["gc_count", "gc_s", "classes_loaded"]
# per-span columns of the traced report
SPAN_COLUMNS = ["jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
                "broadcast_bytes", "planning_s"]
UNITS = {"_s": "s", "_bytes": "bytes", "_mb": "MB"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def fail(msg: str, code: int = 2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None when that percentile is not above the median."""
    n = len(xs)
    k = n - 10
    if k <= n / 2:
        return None
    return 100.0 * k / n, sorted(xs)[k - 1]


# ------------------------------------------------------------------ launch

def run_jvm(classes: Path, work: Path, args) -> int:
    jars = build.spark_jars()
    cp = os.pathsep.join([str(classes)] + [str(j) for j in jars])
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cores = min(4, os.cpu_count() or 1)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=32",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", str(build.DATA), "--work", str(work), "--cores", str(cores)]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return -1
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def environment(result: dict, classes: Path) -> dict:
    commit = None
    if (build.ROOT / ".git").exists():
        p = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        commit = p.stdout.strip() or None
    env = result["env"]
    conf = {k: v for k, v in env["spark_conf"].items()
            if not k.endswith(("extraJavaOptions", ".id", "startTime", ".port"))}
    return {"nproc": os.cpu_count(), "cores": result["cores"], "xmx": HEAP,
            "max_heap_mb": env["max_heap_mb"], "java": env["java"], "spark": env["spark"],
            "git_commit": commit, "build": classes.name, "spark_conf": conf}


# ------------------------------------------------------------------ checks

def compare_outputs(result: dict, tag: str) -> list:
    """Outputs of one seed must repeat across runs: the first run in this
    checkout records them, later runs compare."""
    store = build.OUT / "outputs" / f"{tag}.json"
    outputs = result["outputs"]
    if store.exists():
        before = json.loads(store.read_text())
        return [f"output {k}: {v} differs from an earlier run's {before[k]}"
                for k, v in outputs.items() if k in before and before[k] != v]
    store.parent.mkdir(parents=True, exist_ok=True)
    store.write_text(json.dumps(outputs, sort_keys=True))
    return []


# ------------------------------------------------------------------ metrics

def end_to_end(result: dict):
    ok = [o for o in result["ops"] if o["ok"] and not o["traced"] and not o["probe"]]
    walls = [o["wall_s"] for o in ok]
    metrics = {
        "setup_s": (median(result["generate_s"]) + result["warm_up_s"], "s"),
        "op_p50_s": (median(walls), "s"),
        "live_heap_mb": (result["live_heap_mb"], "MB"),
    }
    rate = median([o["units"] / o["wall_s"] for o in ok])
    return metrics, walls, rate


def report_end_to_end(result, metrics, walls, rate, attempted, failed):
    wl = result["workload"]
    n = len(walls)
    print(f"# {wl}: {attempted} operations ({OP_NAME[wl]}), {failed} failed, "
          f"measured {result['measured_s']:.1f} s")
    rows = [("setup_s", metrics["setup_s"][0], "s",
             f"median input generation of {', '.join(f'{s:.2f}' for s in result['generate_s'])} s "
             f"+ warm-up {result['warm_up_s']:.2f} s")]
    if wl == "inundate":
        rows.append(("pages_per_s", rate, "pages/s", f"median of {n} actions"))
    if wl == "crawl_increment":
        rows.append(("batch_p50_s", metrics["op_p50_s"][0], "s", f"median of {n} batches"))
        t = tail(walls)
        rows.append(("batch_tail_s", t[1] if t else float("nan"), "s",
                     f"p{t[0]:.1f} of {n} batches" if t else
                     f"not reported: {n} batches leave no percentile above the median "
                     f"with 10 samples beyond it; max {max(walls, default=float('nan')):.3f} s"))
    if wl == "dedup":
        rows.append(("docs_per_s", rate, "docs/s", f"median of {n} operations"))
    rows.append(("live_heap_mb", metrics["live_heap_mb"][0], "MB",
                 "live heap (old generation after full GCs) after the warm-up"))
    if result["peak_heap_mb"] is not None:
        rows.append(("peak_heap_mb", result["peak_heap_mb"], "MB",
                     "largest live heap of full GCs every 0.1 s during one more operation"))
    rows.append(("error_rate", failed / attempted if attempted else float("nan"), "ratio",
                 f"{failed} of {attempted} operations failed or failed their check"))
    for name, value, unit, note in rows:
        print(f"{name:<14} {value:>16.6g} {unit:<8} {note}")
    print("# operation walls (s): " + " ".join(
        f"{o['wall_s']:.3f}{'T' if o['traced'] else ''}{'' if o['ok'] else '!'}"
        for o in result["ops"] if not o["probe"]))


def self_times(spans: list) -> dict:
    """Span id -> self seconds: its duration minus the intervals its child
    spans occupy (a child's bookkeeping is inside the parent's interval)."""
    own = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    for s in spans:
        if s["parent"] >= 0:
            own[s["parent"]] -= (s["closed_ns"] - s["start_ns"]) / 1e9
    return own


def per_layer(result: dict, trace: dict):
    """Per-layer metrics from the trace file. Returns (json metrics, report
    lines, failed checks)."""
    spans = trace["spans"]
    slots = trace["slots"]
    own = self_times(spans)
    ops = {o["i"]: o for o in result["ops"]}
    untraced = [s for s in spans if s["kind"] == "untraced" and ops[s["op"]]["ok"]]
    traced = [s for s in spans if s["kind"] == "traced" and ops[s["op"]]["ok"]]
    traced_ops = {s["op"] for s in traced}
    layers = [s for s in spans if s["kind"] in ("layer", "probe") and s["op"] in traced_ops]
    if not (traced and untraced):
        fail("the traced run needs a successful traced and untraced operation", 1)
    failed = []

    def c(s, k):
        return s["counters"].get(k, 0.0)

    def spark_of(s, wall):
        out = {k: c(s, k) for k in SPARK_COUNTERS}
        out["idle_slot_s"] = slots * wall - c(s, "task_run_s")
        return out

    # the untraced action: whole-op counters, and the operator metrics
    op_counters = [spark_of(s, ops[s["op"]]["wall_s"]) for s in untraced]
    metrics = {f"spark.{k}": median([o[k] for o in op_counters]) for k in SPARK_COUNTERS}
    for k in JVM_COUNTERS:
        metrics[f"jvm.{k}"] = result["jvm_end"][k] - result["jvm_start"][k]
    metrics["jvm.heap_after_gc_mb"] = result["jvm_end"]["heap_after_gc_mb"]
    metrics["jvm.peak_live_mb"] = result["peak_heap_mb"]
    metrics["trace.overhead_s"] = (median([ops[s["op"]]["wall_s"] for s in traced]) -
                                   median([ops[s["op"]]["wall_s"] for s in untraced]))

    lines = []
    by_name = {}
    for s in layers:
        by_name.setdefault(s["name"], []).append(s)

    def layer_median(name, f):
        xs = [f(s) for s in by_name.get(name, [])]
        return median(xs) if xs else None

    module = {}
    for name, ss in by_name.items():
        if name.startswith("probe."):
            continue
        module[f"{name}.self_s"] = median([own[s["id"]] for s in ss])
        if any("plan_s" in s["counters"] for s in ss):
            module[f"{name}.plan_s"] = median([c(s, "plan_s") for s in ss])

    wl = result["workload"]
    first = untraced[0]["counters"] if untraced else {}
    if wl == "inundate":
        pages = layer_median("probe.candidates", lambda s: c(s, "pages"))
        cands = layer_median("probe.candidates", lambda s: c(s, "candidates"))
        hits = layer_median("ops.SpatialJoin.assign", lambda s: c(s, "rows"))
        tiles = first.get("tiles_rows", 0.0)
        module["ops.SpatialJoin.candidates_per_page"] = cands / pages
        module["ops.SpatialJoin.pip_hit_ratio"] = hits / cands
        module["pipeline.Inundate.mosaic.shuffle_bytes_per_page"] = first.get("mosaic_shuffle_bytes", 0.0) / pages
        module["pipeline.Inundate.mosaic.partial_agg_ratio"] = first.get("mosaic_partial_rows", 0.0) / tiles
        module["pipeline.Inundate.mosaic.fetch_wait_s"] = first.get("mosaic_fetch_wait_s", 0.0)
        if hits != pages:
            failed.append(f"PIP join kept {hits:.0f} rows for {pages:.0f} pages: "
                          f"not every page assigned exactly once")
    if wl == "crawl_increment":
        commits = by_name.get("probe.commit", [])
        module["pipeline.Snapshots.writeResumable.bytes_per_row"] = median(
            [c(s, "bytes") / c(s, "rows") for s in commits])
        module["pipeline.Snapshots.writeResumable.files_per_commit"] = median([c(s, "files") for s in commits])
        module["pipeline.Snapshots.writeResumable.manifest_parts"] = layer_median(
            "pipeline.Snapshots.writeResumable", lambda s: c(s, "manifest_parts"))
    if wl == "dedup":
        docs = layer_median("probe.docs", lambda s: c(s, "docs"))
        module["ops.TextOps.shingles_per_doc"] = layer_median("ops.TextOps.shingleHashes", lambda s: c(s, "rows")) / docs
        pairs = layer_median("ops.TextOps.lshPairs", lambda s: c(s, "rows"))
        module["ops.TextOps.lshPairs.candidate_pairs"] = pairs
        module["ops.TextOps.verify_yield"] = layer_median("ops.TextOps.ngramJaccard", lambda s: c(s, "verified")) / pairs
        module["ops.DedupGraph.dupComponents.jobs"] = layer_median("ops.DedupGraph.dupComponents", lambda s: c(s, "jobs"))

    lines.append(f"# {wl} layers: median over {len(traced_ops)} traced operation(s); "
                 f"each layer's output materialised before the next layer's call")
    for k in sorted(module):
        if module[k] is not None:
            lines.append(f"{k:<58} {module[k]:>16.6g} {unit_of(k)}")
    lines.append("# spark counters per layer span (median): " + ", ".join(["self_s"] + SPAN_COLUMNS))
    for name in sorted(by_name):
        ss = by_name[name]
        vals = [median([own[s["id"]] for s in ss])] + [median([c(s, k) for s in ss]) for k in SPAN_COLUMNS]
        lines.append(f"  {name:<44} " + " ".join(f"{v:>11.4g}" for v in vals))
    walls_t = [ops[s["op"]]["wall_s"] for s in traced]
    walls_u = [ops[s["op"]]["wall_s"] for s in untraced]
    self_sum = median([sum(own[s["id"]] for s in layers if s["op"] == op and not s["name"].startswith("probe."))
                       for op in traced_ops])
    lines.append(f"# tracing overhead: traced {median(walls_t):.3f} s - untraced {median(walls_u):.3f} s "
                 f"= {metrics['trace.overhead_s']:.3f} s per operation")
    lines.append(f"# layer self-time sum {self_sum:.3f} s (traced) beside the one-action wall "
                 f"{median(walls_u):.3f} s (untraced)")
    lines.append("# spark.*: median over the untraced operations; jvm.*: the run's measured window")
    for k in sorted(metrics):
        lines.append(f"{k:<58} {metrics[k]:>16.6g} {unit_of(k)}")
    return metrics, lines, failed


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like SIGINT, so the benchmark JVM is killed with us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(str(e))

    work = build.OUT / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        code = run_jvm(classes, work, args)
        result_file = work / "result.json"
        if code != 0 or not result_file.exists():
            log = (work / "jvm.log").read_text(errors="replace")
            print(log[-6000:], file=sys.stderr)
            fail(f"benchmark JVM {'timed out' if code == -1 else f'exited with {code}'}", 1)
        result = json.loads(result_file.read_text())
        trace = None
        if args.trace:
            traces = build.OUT / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            kept = traces / f"{args.workload}-seed{args.seed}.json"
            shutil.copyfile(work / "trace.json", kept)
            trace = json.loads(kept.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    inputs = sorted(build.HARNESS_SRC.rglob("*.scala")) + sorted(build.DATA.glob("*.parquet"))
    harness = hashlib.sha256(b"".join(p.read_bytes() for p in inputs))
    problems = compare_outputs(result, f"{args.workload}-seed{args.seed}-{harness.hexdigest()[:12]}")
    attempted = len(result["ops"])
    failed = sum(not o["ok"] for o in result["ops"])
    for o in result["ops"]:
        if o["error"]:
            print(f"[perfbench] operation {o['i']} failed: {o['error']}", file=sys.stderr)

    print("# env " + json.dumps(environment(result, classes), sort_keys=True))
    metrics, walls, rate = end_to_end(result)
    if args.trace:
        layer_metrics, lines, layer_problems = per_layer(result, trace)
        problems += layer_problems
        print("\n".join(lines))
        out = {k: (v, unit_of(k)) for k, v in layer_metrics.items()}
    else:
        out = metrics
    for p in problems:
        print(f"[perfbench] check failed: {p}", file=sys.stderr)
    failed = min(attempted, failed + len(problems))
    report_end_to_end(result, metrics, walls, rate, attempted, failed)
    if not walls:
        fail("no operation succeeded", 1)
    print(json.dumps(allow_nan=False, obj={
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))


if __name__ == "__main__":
    main()
