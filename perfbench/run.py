"""Job-level benchmark of the engine, driven through its HTTP API.

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 --seconds 6 \
        --trace 0

Run from the root of a checkout. The runner

1. generates the input tables (perfbench/datagen.py) into
   .perfbench/data/, once per checkout;
2. starts two nodes at once (perfbench/node.py), each in its own
   scratch directory under .perfbench/runs/ with its own index store,
   Spark local dirs, temp dir and working directory. Both time their
   set-up (process start until /healthz answers); the probe node stops
   there, the main node runs the workload once the probe has exited and
   been reaped, so the probe's start-up never overlaps its measurements;
3. checks every job: it must end ResultsAccepted with the manifest that
   perfbench/expected.json records for its (dataset, query) pair;
4. prints a stamp line describing the run, then, as the last line, one
   JSON object: {"correct", "attempted", "failed", "metrics"}. With
   --trace 0 the metrics are the end-to-end ones, with --trace 1 the
   per-layer ones (BENCHMARK.json lists both).

The seed sets the order of the jobs within every pass. It exits non-zero
without a result when the engine is not there or a node fails, and
non-zero after the result when an output is wrong.
"""

from __future__ import annotations

import argparse
import glob
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
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

from workloads import WORKLOADS, dataset_name  # noqa: E402

# nodes started together; setup_s is their median. A third start would
# add ~5 s to every run (three JVMs starting on four cores), more than
# the benchmark's time budget can hold.
N_SETUPS = 2
NODE_TIMEOUT_S = 160  # a run that is not done by then is killed
EXPECTED = os.path.join(HERE, "expected.json")


def prepare_data(sf: float) -> tuple[str, float]:
    """Generate the dataset once per checkout; return (dir, seconds)."""
    from datagen import write
    path = os.path.join(WORK, "data", dataset_name(sf))
    if os.path.isdir(path):
        return path, 0.0
    os.makedirs(os.path.dirname(path), exist_ok=True)
    shutil.rmtree(path + ".partial", ignore_errors=True)
    t0 = time.perf_counter()
    write(path, sf)
    return path, time.perf_counter() - t0


def node_env(base: str) -> dict:
    """Isolate a node: every path Spark, the index store or Python's
    tempfile would write to lives under `base`."""
    dirs = {k: os.path.join(base, k) for k in ("store", "local", "tmp",
                                               "cwd")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "SPARK_GRAFT_INDEX_STORE": dirs["store"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        # no hsperfdata file: the JVM would write it to /tmp
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={dirs['tmp']} "
                             "-XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def group_alive(pgid: int) -> bool:
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                if os.getpgid(int(p)) == pgid:
                    return True
            except OSError:
                pass
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of a node's process group (the JVM is in
    it) and wait until every member has exited."""
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(10)
        except subprocess.TimeoutExpired:
            pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except OSError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)


def run_nodes(args, data: str, run_dir: str) -> list[dict]:
    procs = []
    go = os.path.join(run_dir, "go")
    try:
        for i in range(N_SETUPS):
            role = "main" if i == 0 else "probe"
            base = os.path.join(run_dir, f"node{i}")
            env = node_env(base)
            out = os.path.join(base, "result.json")
            cmd = [sys.executable, os.path.join(HERE, "node.py"),
                   "--role", role, "--workload", args.workload,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace), "--data", data,
                   "--t0", repr(time.time()), "--out", out, "--go", go]
            log = open(os.path.join(base, "node.log"), "w")
            procs.append((subprocess.Popen(
                cmd, cwd=os.path.join(base, "cwd"), env=env, stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True), out, log))
        # reap each node as soon as it exits; the main node starts its
        # workload only once every probe (its JVM too) is gone
        deadline = time.time() + NODE_TIMEOUT_S
        running = [proc for proc, _, _ in procs]
        while running:
            if time.time() > deadline:
                raise SystemExit("perfbench: a node did not finish in "
                                 f"{NODE_TIMEOUT_S}s")
            for proc in [p for p in running if p.poll() is not None]:
                stop_group(proc)
                running.remove(proc)
            if running == [procs[0][0]] and not os.path.exists(go):
                open(go, "w").close()
            time.sleep(0.1)
    finally:
        for proc, _, log in procs:
            stop_group(proc)
            log.close()
    results = []
    for proc, out, log in procs:
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log.name) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: node exited {proc.returncode}")
        with open(out) as f:
            results.append(json.load(f))
    return results


def git_head() -> str:
    """HEAD's commit from .git, without running git (a checkout may not
    be a repository)."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:
        return "unknown"


def _med(values) -> float:
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def _span_s(job: dict, name: str) -> float | None:
    for sp in job.get("spans", ()):
        if sp["name"] == name:
            return sp["end"] - sp["start"]
    return None


def _api_overhead_s(job: dict) -> float | None:
    """Client-observed latency minus the engine's Created→ResultsAccepted
    span: HTTP, JSON and the API server's own work."""
    engine = [sp for sp in job.get("spans", ())
              if sp["name"].startswith("engine.")]
    if not engine:
        return None
    return job["latency_s"] - (engine[-1]["end"] - engine[0]["start"])


def check_outputs(jobs: list[dict], expected: dict) -> list[str]:
    bad = []
    for j in jobs:
        want = expected.get(j["dataset"], {}).get(j["query"])
        if j.get("state") != "ResultsAccepted" or want is None \
                or j.get("manifest") != want:
            bad.append(f"{j['phase']} pass {j['pass']} {j['query']}: "
                       f"state={j.get('state')} error={j.get('error')} "
                       f"manifest={j.get('manifest')} expected={want}")
    return bad


def end_to_end(main: dict, setups: list[float]) -> dict:
    window = [j for j in main["jobs"] if j["phase"] == "window"]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "jobs_per_s": (len(window) / main["window_s"], "1/s"),
        "job_p50_s": (statistics.median(j["latency_s"] for j in window),
                      "s"),
        "cpu_s_per_job": (main["window_cpu_s"] / len(window), "s"),
        "peak_rss_mb": (main["peak_rss_mb"], "MB"),
        "first_pass_s": (main["first_pass_s"], "s"),
    }


def per_layer(main: dict, nodes: list[dict]) -> dict:
    window = [j for j in main["jobs"] if j["phase"] == "window"]
    first = [j for j in main["jobs"] if j["phase"] == "first"]

    def med(f) -> float:
        return _med(f(j) for j in window)

    def span(name):
        return lambda j: _span_s(j, name)

    def spark(key):
        return lambda j: j.get("spark", {}).get(key)

    def eng(key):
        return lambda j: j.get("engine_metrics", {}).get(key, 0)

    store = main["store_after_first"]
    out = {
        "session.import_s": (_med(n["setup"]["session.import_s"]
                                  for n in nodes), "s"),
        "session.start_s": (_med(n["setup"]["session.start_s"]
                                 for n in nodes), "s"),
        "api.start_s": (_med(n["setup"]["api.start_s"] for n in nodes),
                        "s"),
        "api.overhead_s": (med(_api_overhead_s), "s"),
        "engine.admit_s": (med(span("engine.admit")), "s"),
        "engine.build_s": (med(span("engine.build")), "s"),
        "engine.exec_s": (med(span("engine.exec")), "s"),
        "engine.post_s": (med(span("engine.post")), "s"),
        "first.engine.build_s": (sum(_span_s(j, "engine.build") or 0
                                     for j in first), "s"),
        "first.engine.exec_s": (sum(_span_s(j, "engine.exec") or 0
                                    for j in first), "s"),
        "first.spark.task_cpu_s": (sum(j.get("spark", {}).get(
            "task_cpu_s", 0) for j in first), "s"),
        "spark.jobs": (med(spark("jobs")), "count"),
        "spark.stages": (med(spark("stages")), "count"),
        "spark.tasks": (med(spark("tasks")), "count"),
        "spark.between_stages_s": (med(spark("between_stages_s")), "s"),
        "spark.task_run_s": (med(spark("task_run_s")), "s"),
        "spark.task_cpu_s": (med(spark("task_cpu_s")), "s"),
        "spark.gc_s": (med(spark("gc_s")), "s"),
        "spark.input_bytes": (med(spark("input_bytes")), "B"),
        "spark.shuffle_write_bytes": (med(spark("shuffle_write_bytes")),
                                      "B"),
        "engine.scan_bytes": (med(eng("scan_bytes")), "B"),
        "engine.shuffle_bytes_written": (med(eng("shuffle_bytes_written")),
                                         "B"),
        "engine.spill_bytes": (med(eng("spill_bytes")), "B"),
        "engine.result_rows": (med(eng("result_rows")), "count"),
        "store.artifacts": (store["artifacts"], "count"),
        "store.files": (store["files"], "count"),
        "store.max_files_per_artifact": (store["max_files_per_artifact"],
                                         "count"),
        "store.bytes": (store["bytes"], "B"),
        "store.bytes_per_input_byte": (store["bytes"]
                                       / main["documents_bytes"], "ratio"),
        "proc.steal_s": (main["steal_s"], "s"),
        "floor_s": (main["floor_start_s"], "s"),
        "floor_end_s": (main["floor_end_s"], "s"),
        "trace.collect_s": (med(lambda j: j.get("collect_s")), "s"),
    }
    return out


def drift(main: dict) -> float:
    """Median pass time of the window's second half over its first half:
    above 1 the run was slowing down (load), below 1 still warming."""
    walls = [p["wall_s"] for p in main["passes"] if p["phase"] == "window"]
    half = len(walls) // 2
    if half == 0:
        return 1.0
    return statistics.median(walls[-half:]) / statistics.median(walls[:half])


def trace_overhead(args, main: dict) -> float | None:
    """Traced minus untraced median window job latency, against the
    latest untraced run of the same workload and seed in this checkout
    (None when there is none)."""
    prefix = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t0-")
    runs = sorted(glob.glob(prefix + "*.json"))
    if not runs:
        return None
    with open(runs[-1]) as f:
        untraced = json.load(f)["nodes"][0]
    return (main["window_latency_median_s"]
            - untraced["window_latency_median_s"])


def save_record(args, record: dict) -> None:
    """Keep the run's full record (stamp, result, raw node observations)
    in .perfbench/results/ for later reading."""
    path = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}"
                        f"-t{args.trace}-{int(time.time())}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "bacalhau_spark",
                                       "engine.py")):
        raise SystemExit(f"perfbench: no engine sources under {ROOT}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    wl = WORKLOADS[args.workload]
    with open(EXPECTED) as f:
        expected = json.load(f)["datasets"]
    data, datagen_s = prepare_data(wl["sf"])
    run_dir = os.path.join(
        WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        nodes = run_nodes(args, data, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    main_node = nodes[0]
    jobs = main_node["jobs"]
    bad = check_outputs(jobs, expected)
    leftovers = main_node["store_before_first"]["artifacts"]
    for line in bad:
        sys.stderr.write(f"perfbench: wrong output: {line}\n")
    if leftovers:
        sys.stderr.write(f"perfbench: the run's index store held "
                         f"{leftovers} artifacts before its first pass\n")
    correct = not bad and not leftovers

    metrics = (per_layer(main_node, nodes) if args.trace
               else end_to_end(main_node, [n["setup"]["setup_s"]
                                           for n in nodes]))
    window = [j for j in jobs if j["phase"] == "window"]
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": main_node["ncpu"],
        "master": f"local[{main_node['ncpu']}]",
        "versions": main_node["versions"], "git_head": git_head(),
        "dataset": os.path.basename(data),
        "datagen_s": round(datagen_s, 3),
        "first_pass_s": round(main_node["first_pass_s"], 3),
        "probe_wait_s": round(main_node["setup"]["probe_wait_s"], 3),
        "settle_passes": sum(1 for p in main_node["passes"]
                             if p["phase"] == "settle"),
        "window_passes": sum(1 for p in main_node["passes"]
                             if p["phase"] == "window"),
        "window_jobs": len(window),
        "window_drift": round(drift(main_node), 4),
        "failed_share": len(bad) / len(jobs),
        "pass_walls_s": [round(p["wall_s"], 3) for p in main_node["passes"]],
    }
    result = {"correct": correct, "attempted": len(jobs), "failed": len(bad),
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    if args.trace:
        stamp["trace_overhead_s"] = trace_overhead(args, main_node)
        # the API's share of each job's latency; the engine spans cover
        # the rest by construction
        stamp["api_overhead_share_max"] = max(
            (_api_overhead_s(j) / j["latency_s"] for j in jobs
             if _api_overhead_s(j) is not None), default=None)
    save_record(args, {"stamp": stamp, "result": result, "nodes": nodes})
    print(json.dumps({"perfbench": stamp}))
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
