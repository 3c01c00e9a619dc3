"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload batch_validate --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each was chosen):
  batch_validate  runner.main --images P --ref R --decode over a pre-generated table
  stream_closed   runner.main --images P --stream --stream-combined
  operator_sweep  REGISTRY[q].fn for a fixed list of registry operators

One closed loop with one client: this process starts one fresh worker
process (perfbench/child.py) at a time, each on Spark local[4], and keeps
starting them until --seconds have passed (at least one). Inputs are made
from --seed, outside the timed region, once per (size, seed). Every run's
output is checked with DuckDB after its timed region.

--trace 0 prints the end-to-end metrics (medians over the worker processes)
and records each correct worker's wall time in the work directory.
--trace 1 runs one traced worker, compares it with the median of the latest
recorded untraced workers (running one first if none is recorded) and prints
the per-layer metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import checks
import images
import layers
import tables

# ------------------------------------------------------------------ workload sizes
IMAGE_ROWS = 8_000  # 4 windows of 2,000 rows; windows 2 and 3 carry the planted drift
ROWS_PER_WINDOW = 2_000  # the datagen default
SWEEP_SF = 0.01  # 10,000 events, 500 documents, 500 embeddings
SWEEP_QUERIES = (
    # the seven round-8 suspects, each timed once at 32 CPUs in that round
    "q_seasonal_anomaly", "q_cosine_topk", "q_batch_inference", "q_crossing_report",
    "q_metric_anomaly", "q_uniqueness_drift", "q_frequent_items",
    # the two round-8 regressions
    "q_cms_point_estimates", "q_kmv_retention",
)
WORKLOADS = ("batch_validate", "stream_closed", "operator_sweep")
RUN_LIMIT_S = 170  # no worker may run past this point of a run; one still running is killed
DATA_CACHE_KEEP = 8  # generated input sets kept in the work directory
HISTORY_KEEP = 10  # latest untraced workers a traced run is compared with

END_TO_END = {"setup_s": "s", "wall_s": "s", "step_ms_p50": "ms", "step_ms_p75": "ms"}
BATCH_LAYERS = {
    "sources.s": "s", "sources.jobs": "count", "sources.input_bytes": "B",
    "suite.run_s": "s", "suite.jobs": "count", "suite.shuffle_bytes": "B",
    "suite.spill_bytes": "B", "stats.s": "s", "stats.jobs": "count",
    "drift.reference_s": "s", "drift.scores_s": "s", "drift.jobs": "count",
    "drift.py_bytes_sent": "B", "drift.py_worker_start_ms": "ms",
    "drift.py_worker_run_ms": "ms", "drift.shuffle_bytes": "B",
    "decode.s": "s", "decode.jobs": "count", "decode.py_bytes_sent": "B",
    "decode.py_worker_run_ms": "ms", "decode.shuffle_bytes": "B",
    "checkpoint.record_s": "s", "checkpoint.jobs": "count",
}
STREAM_LAYERS = {
    "streaming.stage_s": "s", "streaming.stage_jobs": "count",
    "streaming.references_s": "s", "streaming.references_jobs": "count",
    "streaming.run_jobs": "count", "streaming.split_s": "s", "streaming.triggers": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.trigger_ckpt_ms_p50": "ms",
    **{f"streaming.{layers._snake(k)}_ms_p50": "ms" for k in layers.TRIGGER_PARTS},
    "streaming.state_commit_ms_p50": "ms", "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "B", "streaming.py_bytes_sent": "B",
    "streaming.rows_dropped_by_watermark": "count",
}
SWEEP_LAYERS = {
    f"operators.{q}_{m}": u for q in SWEEP_QUERIES
    for m, u in (("s", "s"), ("jobs", "count"), ("shuffle_bytes", "B"))
}
COMMON_LAYERS = {
    "session.s": "s", "session.persisted_rdds": "count", "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s", "trace.span_coverage": "fraction",
}
PER_LAYER = {**COMMON_LAYERS, **BATCH_LAYERS, **STREAM_LAYERS, **SWEEP_LAYERS}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ inputs


def prepare_inputs(work: str, workload: str, seed: int) -> dict:
    """Generate (or reuse) this seed's input tables; returns their paths."""
    data = os.path.join(work, "data")
    if workload == "operator_sweep":
        path = os.path.join(data, f"sf{SWEEP_SF}-s{seed}")
        make = lambda tmp: tables.write(tmp, SWEEP_SF, seed)  # noqa: E731
    else:
        path = os.path.join(data, f"images-{IMAGE_ROWS}-{ROWS_PER_WINDOW}-s{seed}")
        make = lambda tmp: images.write(tmp, IMAGE_ROWS, ROWS_PER_WINDOW, seed)  # noqa: E731
    if not os.path.isdir(path):
        t = time.perf_counter()
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.replace(tmp, path)
        log(f"generated {os.path.basename(path)} in {time.perf_counter() - t:.2f} s "
            "(not part of setup_s)")
        sets = sorted((os.path.join(data, d) for d in os.listdir(data)), key=os.path.getmtime)
        for old in sets[:-DATA_CACHE_KEEP]:
            shutil.rmtree(old, ignore_errors=True)
    os.utime(path)
    if workload == "operator_sweep":
        return {"sf_dir": path, "queries": list(SWEEP_QUERIES)}
    return {"images": os.path.join(path, "images.parquet"),
            "ref": os.path.join(path, "ref.parquet") if workload == "batch_validate" else None,
            "rows": IMAGE_ROWS, "rows_per_window": ROWS_PER_WINDOW, "seed": seed}


def warm_page_cache(spec: dict) -> None:
    """Read the inputs once: the host can drop the page cache between runs."""
    for key in ("images", "ref", "sf_dir"):
        root = spec.get(key)
        if not root:
            continue
        for d, _, files in os.walk(root):
            for f in files:
                with open(os.path.join(d, f), "rb") as fh:
                    while fh.read(1 << 20):
                        pass


# ------------------------------------------------------------------ process tree


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, process group) for every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(name)] = (int(fields[1]), int(fields[2]))
    return table


def tree_rss_kb(root: int) -> int:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
        except OSError:
            continue
    return total


class RssSampler(threading.Thread):
    def __init__(self, pid: int, every_s: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.every_s = pid, every_s
        self.peak_kb = 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(self.every_s):
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self.pid))


def stop_group(pgid: int) -> None:
    """Kill what is left of a worker's process group and wait until it is gone."""
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p, (_, g) in _proc_table().items() if g == pgid]
        if not alive:
            return
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


# ------------------------------------------------------------------ one worker


def run_child(root: str, work: str, spec: dict, trace: bool, tag: str, deadline: float) -> dict:
    """Run one worker to completion (killed at ``deadline``); returns its
    timings, or ``ok=False`` if it failed."""
    run_dir = os.path.join(work, "runs", f"{spec['workload']}-{tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "events"))
    spec = dict(spec, trace=trace, out=os.path.join(run_dir, "out"),
                event_dir=os.path.join(run_dir, "events"),
                result=os.path.join(run_dir, "result.json"))
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        os.makedirs(os.path.join(work, d))
    env = dict(
        os.environ,
        PYTHONPATH=root + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # JVM scratch files (native libraries, perf data) stay in the work dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS="4",
        PYTHONWARNINGS="ignore",
    )
    warm_page_cache(spec)
    with open(os.path.join(run_dir, "child.log"), "wb") as logf:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(root, "perfbench", "child.py"), json.dumps(spec)],
            cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            sampler.done.set()
            sampler.join()
            stop_group(proc.pid)
            proc.wait()
    if rc != 0 or not os.path.exists(spec["result"]):
        log(f"worker {tag} failed ({rc}); log: {os.path.join(run_dir, 'child.log')}")
        return {"ok": False, "spec": spec}
    with open(spec["result"]) as f:
        res = json.load(f)
    res.update(ok=True, spec=spec, setup_s=res["t_ready"] - t_spawn,
               peak_rss_mb=sampler.peak_kb / 1024)
    return res


def check_output(res: dict) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems) for one finished worker."""
    spec = res["spec"]
    if not res["ok"]:
        n = len(spec.get("queries") or [None])
        return n, n, ["worker failed"]
    w = spec["workload"]
    if w == "batch_validate":
        problems = checks.check_batch(spec["out"], spec["rows"], spec["rows_per_window"])
    elif w == "stream_closed":
        problems = checks.check_stream(spec["out"], -(-spec["rows"] // spec["rows_per_window"]))
    else:
        os.environ["SPARK_GRAFT_ORACLE_SF"] = spec["sf_dir"]  # lazy oracle builders
        from al_drift_detection_spark.operators import REGISTRY

        oracles = {}
        for q in spec["queries"]:
            sql = REGISTRY[q].sql
            oracles[q] = sql() if callable(sql) else sql
        bad = dict(res.get("query_errors", {}))
        for q, p in checks.check_sweep(spec["sf_dir"], spec["out"], oracles).items():
            bad.setdefault(q, p)
        problems = [f"{q}: {p}" for q, p in sorted(bad.items())]
        return len(spec["queries"]), len(bad), problems
    if res.get("rc", 0) != 0:
        problems.append(f"runner returned {res['rc']}")
    if res.get("datagen_diff_rows"):
        problems.append(f"{res['datagen_diff_rows']} input rows differ from datagen's tables")
    return 1, int(bool(problems)), problems


# ------------------------------------------------------------------ metrics


def end_to_end(runs: list[dict]) -> dict[str, float]:
    """Medians over the run's workers; step quartiles are taken per worker."""
    med = lambda key: statistics.median(key(r) for r in runs)  # noqa: E731
    steps = lambda r: statistics.quantiles(r["steps_ms"], n=4, method="inclusive")  # noqa: E731
    return {
        "setup_s": med(lambda r: r["setup_s"]),
        "wall_s": med(lambda r: r["t1"] - r["t0"]),
        "step_ms_p50": med(lambda r: steps(r)[1]),
        "step_ms_p75": med(lambda r: steps(r)[2]),
    }


def untraced_summary(res: dict) -> dict:
    return {"wall_s": res["t1"] - res["t0"], "peak_rss_mb": res["peak_rss_mb"],
            "persisted_rdds": res["persisted_rdds"]}


def read_history(path: str) -> list[dict]:
    """Summaries of this checkout's latest correct untraced workers."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f][-HISTORY_KEEP:]


def per_layer(workload: str, traced: dict, untraced: list[dict], event_dir: str) -> dict[str, float]:
    spans = traced["spans"]
    counters = layers.span_counters(event_dir, spans)
    own = layers.self_times(spans)
    total = lambda key, names: sum(counters[n][key] for n in names)  # noqa: E731
    span_names = {s["name"] for s in spans}
    top = [s for s in spans if s["parent"] is None]
    traced_wall = max(s["end"] for s in top) - min(s["start"] for s in top)
    untraced_wall = statistics.median(u["wall_s"] for u in untraced)
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "session.s": traced["session_s"],
        "session.persisted_rdds": untraced[-1]["persisted_rdds"],
        "session.peak_rss_mb": statistics.median(u["peak_rss_mb"] for u in untraced),
        "trace.overhead_s": traced_wall - untraced_wall,
        "trace.span_coverage": sum(s["end"] - s["start"] for s in top) / untraced_wall,
    })
    if workload != "operator_sweep":
        m["sources.s"] = own["sources"]
        m["sources.jobs"] = counters["sources"]["jobs"]
        # jobs outside every span (the untimed warm-up and input check) are left out
        m["sources.input_bytes"] = total("input_bytes", span_names)
    if workload == "batch_validate":
        drift = ["drift.reference", "drift.scores"]
        m.update({
            "suite.run_s": own["suite.run"], "suite.jobs": counters["suite.run"]["jobs"],
            "suite.shuffle_bytes": counters["suite.run"]["shuffle_bytes"],
            "suite.spill_bytes": counters["suite.run"]["spill_bytes"],
            "stats.s": own["stats"], "stats.jobs": counters["stats"]["jobs"],
            "drift.reference_s": own["drift.reference"], "drift.scores_s": own["drift.scores"],
            "drift.jobs": total("jobs", drift),
            "drift.py_bytes_sent": total("py_bytes_sent", drift),
            "drift.py_worker_start_ms": total("py_worker_start_ms", drift),
            "drift.py_worker_run_ms": total("py_worker_run_ms", drift),
            "drift.shuffle_bytes": total("shuffle_bytes", drift),
            "decode.s": own["decode"], "decode.jobs": counters["decode"]["jobs"],
            "decode.py_bytes_sent": counters["decode"]["py_bytes_sent"],
            "decode.py_worker_run_ms": counters["decode"]["py_worker_run_ms"],
            "decode.shuffle_bytes": counters["decode"]["shuffle_bytes"],
            "checkpoint.record_s": own["checkpoint.record"],
            "checkpoint.jobs": counters["checkpoint.record"]["jobs"],
        })
    elif workload == "stream_closed":
        m.update({
            "streaming.stage_s": own["streaming.stage"],
            "streaming.stage_jobs": counters["streaming.stage"]["jobs"],
            "streaming.references_s": own["streaming.references"],
            "streaming.references_jobs": counters["streaming.references"]["jobs"],
            "streaming.run_jobs": counters["streaming.run"]["jobs"],
        })
        m.update(layers.stream_layers(traced["progress"], traced["ckpt_trigger_ms"], spans, counters))
    else:
        for q in SWEEP_QUERIES:
            m[f"operators.{q}_s"] = own[f"operators.{q}"]
            m[f"operators.{q}_jobs"] = counters[f"operators.{q}"]["jobs"]
            m[f"operators.{q}_shuffle_bytes"] = counters[f"operators.{q}"]["shuffle_bytes"]
    return m


# ------------------------------------------------------------------ main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    deadline = time.time() + RUN_LIMIT_S
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "al_drift_detection_spark", "runner.py")):
        log("run from the repository root: al_drift_detection_spark/ not found")
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    os.makedirs(os.path.join(work, "data"), exist_ok=True)

    spec = dict(workload=args.workload, **prepare_inputs(work, args.workload, args.seed))
    t_start = time.time()

    history = os.path.join(work, f"untraced-{args.workload}.jsonl")
    runs: list[dict] = []
    if args.trace:
        # the traced worker is compared with the median of this checkout's
        # untraced workers; if none has run yet, one runs first
        if not read_history(history):
            runs.append(run_child(root, work, spec, False, "untraced", deadline))
        runs.append(run_child(root, work, spec, True, "traced", deadline))
    else:
        while True:
            t = time.time()
            runs.append(run_child(root, work, spec, False, str(len(runs)), deadline))
            # another worker only within --seconds and if one as long still ends by the deadline
            now = time.time()
            if now - t_start >= args.seconds or now + (now - t) > deadline:
                break

    attempted = failed = 0
    for r in runs:
        a, f, problems = check_output(r)
        attempted, failed = attempted + a, failed + f
        for p in problems:
            log(f"output check: {p}")
        if r["ok"] and not f and not r["spec"]["trace"]:
            with open(history, "a") as fh:
                fh.write(json.dumps(untraced_summary(r)) + "\n")

    good = [r for r in runs if r["ok"]]
    if args.trace:
        # an untraced worker that failed its check still gives the comparison
        untraced = read_history(history) or [untraced_summary(r) for r in good[:-1]]
        if len(good) != len(runs):
            log("traced run incomplete; no result")
            return 1
        log(f"traced worker compared with {len(untraced)} untraced workers")
        traced = runs[-1]
        values = per_layer(args.workload, traced, untraced, traced["spec"]["event_dir"])
        units = PER_LAYER
    else:
        if not good:
            log("no worker finished; no result")
            return 1
        values = end_to_end(good)
        units = END_TO_END
    for name, unit in units.items():
        print(f"{args.workload} {name} = {values[name]:.6g} {unit}")
    print(f"{args.workload} runs = {len(runs)}, attempted = {attempted}, failed = {failed}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
