"""One benchmark node: the engine behind its HTTP API, plus the client.

The node starts a SparkSession through the project's session factory, an
`Engine` over the full job registry and an `ApiServer` on an ephemeral
port, then drives it the way a user does: one closed-loop `ApiClient`
submits `verified: true` jobs and waits for each reply. Everything is timed
here, from outside the engine. The node writes one JSON record of raw
observations to --out; `run.py` turns it into metrics.

    python3 perfbench/node.py --role main --workload olap_sf0.1 --seed 1 \
        --seconds 10 --trace 0 --data DIR --t0 EPOCH --out FILE --go FILE

With --role probe the node stops once the API answers /healthz: it only
measures set-up. The main node starts its workload once the --go file
exists, which the runner creates when every probe has exited.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

_TICK = os.sysconf("SC_CLK_TCK")


# -- /proc readings ---------------------------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(_children(p))
    return tree


def cpu_seconds(pids: list[int]) -> float:
    """user+sys of each process, plus that of its reaped children."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def java_pids(pid: int) -> list[int]:
    out = []
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    out.append(p)
        except OSError:
            pass
    return out


def host_steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


# -- the index store --------------------------------------------------------
def store_stats(root: str) -> dict:
    """Artifacts (top-level tables), their parquet data files and bytes."""
    arts, files, max_files, nbytes = 0, 0, 0, 0
    if os.path.isdir(root):
        for art in sorted(os.listdir(root)):
            path = os.path.join(root, art)
            if not os.path.isdir(path):
                continue
            arts += 1
            n = 0
            for dirpath, _, names in os.walk(path):
                for name in names:
                    full = os.path.join(dirpath, name)
                    nbytes += os.path.getsize(full)
                    if name.endswith(".parquet") and not name.startswith("."):
                        n += 1
            files += n
            max_files = max(max_files, n)
    return {"artifacts": arts, "files": files,
            "max_files_per_artifact": max_files, "bytes": nbytes}


# -- Spark's status store ---------------------------------------------------
class SparkTrace:
    """Jobs, stages and task totals of one run, read from the status store
    by job group (the engine sets the group to the run id). Read right
    after each job: Spark keeps only the most recent ~1000 jobs."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    @staticmethod
    def _interval(data) -> tuple[float, float] | None:
        if data.submissionTime().isDefined() \
                and data.completionTime().isDefined():
            return (data.submissionTime().get().getTime() / 1e3,
                    data.completionTime().get().getTime() / 1e3)
        return None

    def run_stats(self, run_id: str, exec_lo: float,
                  exec_hi: float) -> tuple[dict, list[dict]]:
        """Totals over the run's Spark jobs, and one span per job and per
        stage (a stage's parent is the first job that ran it)."""
        spans: list[dict] = []
        stage_job: dict[int, int] = {}
        job_ids = sorted(self.tracker.getJobIdsForGroup(run_id))
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stage_job.setdefault(sid, jid)
            iv = self._interval(self.store.job(jid))
            if iv:
                spans.append({"name": "spark.job", "id": jid,
                              "start": iv[0], "end": iv[1],
                              "parent": "engine.build" if iv[0] < exec_lo
                              else "engine.exec"})
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
               "input_bytes": 0, "shuffle_write_bytes": 0}
        intervals = []
        for sid, jid in sorted(stage_job.items()):
            attempts = self.store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False,
                self._no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                iv = self._interval(sd)
                if iv:
                    intervals.append(iv)
                    spans.append({"name": "spark.stage", "id": sid,
                                  "start": iv[0], "end": iv[1],
                                  "parent": f"spark.job:{jid}"})
        # driver time inside the execute span that no stage covers:
        # Catalyst, AQE re-planning and stage launches
        covered, end = 0.0, exec_lo
        for lo, hi in sorted(intervals):
            lo, hi = max(lo, end), min(hi, exec_hi)
            if hi > lo:
                covered += hi - lo
                end = hi
        out["between_stages_s"] = max(0.0, (exec_hi - exec_lo) - covered)
        return out, spans


def floor_probe(spark) -> float:
    """bench.py's one-row scheduler-floor probe (median seconds)."""
    from bench import scheduler_floor
    return scheduler_floor(spark)["median"]


# -- the client -------------------------------------------------------------
_ENGINE_SPANS = (("engine.admit", "Created", "Bid"),
                 ("engine.build", "Bid", "Running"),
                 ("engine.exec", "Running", "Metrics"),
                 ("engine.post", "Metrics", "ResultsAccepted"))


def engine_spans(events: list[dict]) -> list[dict]:
    """The engine's lifecycle spans of one run, from its event log."""
    ts: dict[str, float] = {}
    for e in events:
        ts.setdefault(e["name"], e["ts"])
    if not all(a in ts and b in ts for _, a, b in _ENGINE_SPANS):
        return []
    return [{"name": name, "start": ts[a], "end": ts[b],
             "parent": "client.submit"} for name, a, b in _ENGINE_SPANS]


class Client:
    def __init__(self, api, data_dir: str, trace: SparkTrace | None):
        self.api = api
        self.data_dir = data_dir
        self.trace = trace
        self.jobs: list[dict] = []

    def job(self, query: str, phase: str, pass_no: int) -> None:
        from bacalhau_spark.api import ApiError
        spec = {"query": query, "inputs": {"sf_dir": self.data_dir},
                "verified": True}
        rec = {"query": query, "dataset": os.path.basename(self.data_dir),
               "phase": phase, "pass": pass_no}
        t0 = time.time()
        try:
            rec["run_id"] = self.api.submit(spec)
        except ApiError as exc:
            rec["error"] = str(exc)
        rec["latency_s"] = time.time() - t0
        rid = rec.get("run_id")
        if rid:
            t_collect = time.perf_counter()
            events = self.api.events(rid)
            rec["state"] = events[-1]["name"] if events else "?"
            rec["manifest"] = next((e["detail"] for e in events
                                    if e["name"] == "ResultsAccepted"), None)
            if self.trace is not None:
                spans = [{"name": "client.submit", "start": t0,
                          "end": t0 + rec["latency_s"], "parent": None}]
                spans += engine_spans(events)
                metrics = next((e["detail"] for e in events
                                if e["name"] == "Metrics"), "{}")
                rec["engine_metrics"] = json.loads(metrics or "{}")
                if len(spans) > 1:
                    exec_span = spans[3]
                    rec["spark"], spark_spans = self.trace.run_stats(
                        rid, exec_span["start"], exec_span["end"])
                    spans += spark_spans
                rec["spans"] = spans
                rec["collect_s"] = time.perf_counter() - t_collect
        self.jobs.append(rec)

    def run_pass(self, queries, order_seed: str, phase: str,
                 pass_no: int) -> float:
        order = list(queries)
        random.Random(order_seed).shuffle(order)
        t0 = time.perf_counter()
        for q in order:
            self.job(q, phase, pass_no)
        return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=("main", "probe"), default="main")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--go", required=True)
    args = ap.parse_args()

    from bacalhau_spark.api import ApiClient, ApiServer
    from bacalhau_spark.engine import Engine
    from bacalhau_spark.registry import engine_registry
    from bacalhau_spark.session import get_session
    t_import = time.time()
    ncpu = len(os.sched_getaffinity(0))
    spark = get_session("perfbench", master=f"local[{ncpu}]")
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    server = ApiServer(Engine(spark, engine_registry()), port=0)
    server.start_background()
    api = ApiClient(server.url)
    if not api.healthz():
        raise SystemExit("node: /healthz did not answer OK")
    t_ready = time.time()
    out = {"role": args.role, "ncpu": ncpu,
           "setup": {"setup_s": t_ready - args.t0,
                     "session.import_s": t_import - args.t0,
                     "session.start_s": t_session - t_import,
                     "api.start_s": t_ready - t_session}}
    code = 0
    try:
        if args.role == "main":
            t_wait = time.time()
            while not os.path.exists(args.go):
                time.sleep(0.05)
            out["setup"]["probe_wait_s"] = time.time() - t_wait
            out.update(drive(args, spark, api))
        with open(args.out + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(args.out + ".tmp", args.out)
    except Exception:  # noqa: BLE001 — reported, then a hard exit
        traceback.print_exc()
        code = 1
    # No orderly Spark shutdown: the runner kills the node's process
    # group (the JVM with it) as soon as this process has exited.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(code)


def drive(args, spark, api) -> dict:
    """The first pass, then the window of warm passes."""
    import pyspark

    from bacalhau_spark.operators.dedup import index_store_root
    wl = WORKLOADS[args.workload]
    queries = wl["queries"]
    trace = SparkTrace(spark) if args.trace else None
    client = Client(api, args.data, trace)
    store = index_store_root()
    me = os.getpid()
    # the store is the run's own: nothing in it may predate the first
    # pass, or that pass could adopt another run's artifacts
    rec: dict = {"store_before_first": store_stats(store), "passes": []}

    pass_no = 0

    def one_pass(phase: str) -> float:
        nonlocal pass_no
        wall = client.run_pass(queries, f"{args.seed}:{pass_no}", phase,
                               pass_no)
        rec["passes"].append({"pass": pass_no, "phase": phase, "wall_s": wall})
        pass_no += 1
        return wall

    rec["first_pass_s"] = one_pass("first")
    rec["store_after_first"] = store_stats(store)
    for _ in range(wl["settle_passes"]):
        one_pass("settle")
    src = os.path.join(args.data, "documents.parquet")
    rec["documents_bytes"] = os.path.getsize(src)

    if trace is not None:
        rec["floor_start_s"] = floor_probe(spark)
    steal0 = host_steal_s()
    cpu0 = cpu_seconds(process_tree(me))
    t0 = time.perf_counter()
    while True:
        one_pass("window")
        window = time.perf_counter() - t0
        n = sum(1 for p in rec["passes"] if p["phase"] == "window")
        if window >= args.seconds and n >= wl["min_window_passes"]:
            break
    rec["window_s"] = window
    rec["window_cpu_s"] = cpu_seconds(process_tree(me)) - cpu0
    rec["steal_s"] = host_steal_s() - steal0
    if trace is not None:
        rec["floor_end_s"] = floor_probe(spark)
    rec["peak_rss_mb"] = vm_hwm_mb(me) + sum(vm_hwm_mb(p)
                                            for p in java_pids(me))
    rec["jobs"] = client.jobs
    rec["versions"] = {"pyspark": pyspark.__version__,
                       "java": spark.sparkContext._jvm.System.getProperty(
                           "java.version")}
    rec["window_latency_median_s"] = statistics.median(
        j["latency_s"] for j in client.jobs if j["phase"] == "window")
    return rec


if __name__ == "__main__":
    main()
