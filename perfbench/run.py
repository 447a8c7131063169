"""Link-graph benchmark: one command, closed-loop workloads.

Run from the repository root::

    python3 perfbench/run.py --workload crawl_job --seed 1 --seconds 20 --trace 0

Each run generates its inputs from ``--seed``, starts a fresh driver
process (``driver.py``, a fresh JVM) that makes the workload's calls
for ``--seconds``, checks every output against golden values computed
with ``graphminer_spark.oracles``, and prints one JSON object as its
last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the workload once with the Spark event log
on and once untraced, and reports per-layer metrics plus the tracing
overhead. All files go to a per-run directory under
``.perfbench_tmp/`` in the checkout, deleted at exit. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from perfbench import data, eventlog  # noqa: E402
from perfbench.driver import OPS  # noqa: E402

# a run ends within this many seconds: sessions still running then are
# killed and their calls count as failed
RUN_DEADLINE_S = 170
# time a traced run keeps, after its last call, to stop the session,
# check outputs and read the event log
FINISH_S = 25
DRIVER_MEMORY = "2g"
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------ processes
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listing and reading
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _statm(pid: int) -> tuple[int, ...] | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return tuple(int(x) for x in f.read().split()[:3])
    except OSError:
        return None


def _resident_mb(root: int) -> float:
    """Summed resident set size, in MB, of ``root`` and its descendants.
    A child that still shares its parent's address space (spawned, not
    yet exec'd) reads exactly like the parent and is not counted twice."""
    kids, total, todo = _children(), 0, [(root, None)]
    while todo:
        pid, parent = todo.pop()
        m = _statm(pid)
        if m is not None and m != parent:
            total += m[1]
        todo += [(k, m) for k in kids.get(pid, [])]
    return total * PAGE_BYTES / (1024.0 * 1024.0)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def _stop_group(pgid: int) -> None:
    """Stop every process of the session's group and wait for the end."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def run_session(args: list[str], env: dict, log_path: str, timeout: float) -> tuple[int, float]:
    """Run one driver process to completion; returns (exit code, peak
    resident memory in MB of its whole process tree, sampled every
    0.1 s). The process and everything it started are stopped before
    this returns."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"), *args],
            env=env,
            cwd=ROOT,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        peak = [0.0]
        done = threading.Event()

        def sample() -> None:
            while not done.wait(0.1):
                peak[0] = max(peak[0], _resident_mb(proc.pid))

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            done.set()
            sampler.join()
            _stop_group(proc.pid)
            proc.wait()
    return code, peak[0]


# --------------------------------------------------------------- checks
class Checker:
    """Compares one workload's outputs with golden values, call by call.

    Golden values are computed once per (workload, seed), untimed.
    crawl_job's are keyed by the program's own vertex ids (xxhash64 of
    the url), read back from the vertex table the job writes.
    """

    def __init__(self, workload: str, seed: int, size: dict, inputs: dict):
        self.workload, self.seed, self.size, self.inputs = workload, seed, size, inputs
        self._golden: dict = {}

    def golden(self, id_of_page: dict | None = None) -> dict:
        key = None if id_of_page is None else tuple(sorted(id_of_page.items()))
        if key in self._golden:
            return self._golden[key]
        if self.workload == "crawl_job":
            ids = [id_of_page[i] for i in range(self.size["pages"])]
            directed = [
                (id_of_page[a], id_of_page[b])
                for a, b in data.page_links(self.seed, self.size)
            ]
            g = data.golden_graph(
                ids, directed, {"pagerank", "components", "labelprop", "triangles"},
                self.size["lp_iter"],
            )
            e = np.array(sorted(set(directed)), dtype=np.int64).reshape(-1, 2)
            g["edges"] = data.pair_checksum(e[:, 0], e[:, 1])
            g["verts"] = data.pair_checksum(ids, ids)
        else:
            t = pq.read_table(self.inputs["edges"])
            canon = list(zip(t["src"].to_pylist(), t["dst"].to_pylist()))
            g = data.golden_graph(list(range(self.inputs["n_vertices"])), canon, {"triangles"}, 0)
        self._golden[key] = g
        return g

    def check_rep(self, rep: dict) -> list[str]:
        """Marks every call of one pass whose output is wrong; returns the
        problems found (none when every output is correct)."""
        ops = {op["name"]: op for op in rep["ops"]}

        def done(name: str) -> dict | None:
            op = ops.get(name)
            return op["out"] if op is not None and op["ok"] else None

        def read(name: str, cols: list[str]):
            t = pq.read_table(os.path.join(rep["dir"], name), columns=cols)
            return [t[c].to_numpy() for c in cols]

        def expect(name: str, got, want, what: str) -> None:
            if done(name) is not None and got != want:
                ops[name]["ok"] = False
                ops[name].setdefault("problems", []).append(f"{what}: got {got}, want {want}")

        if self.workload == "triangles_skew":
            g = self.golden()
            if done("build_dag") is not None:
                expect("build_dag", done("build_dag")["dag"], g["dag"], "DAG checksum")
            per_edge = done("tc_per_edge") and done("tc_per_edge")["per_edge"]
            self._check_triangles(done, expect, g, per_edge)
            return _problems(rep)

        if done("write_graph") is None:
            return _problems(rep)
        vid, url = read("vertices", ["id", "url"])
        g = self.golden({int(u.rsplit("/p", 1)[1]): int(v) for v, u in zip(vid, url)})
        ex, cn = done("extract"), done("canonicalize")
        expect("extract", ex["edges"], g["edges"], "extracted edge checksum")
        expect("extract", ex["verts"], g["verts"], "vertex id checksum")
        expect("extract", ex["collisions"], 0, "id collisions")
        expect("canonicalize", cn["canon"], g["canon"], "canonical edge checksum")
        expect("canonicalize", cn["sym"][0], 2 * g["canon"][0], "symmetric edge count")
        per_edge = None
        if done("tc_per_edge") is not None:
            per_edge = data.tri_checksum(*read("tc_per_edge", ["src", "dst", "tri_cnt"]))
        self._check_triangles(done, expect, g, per_edge)
        if done("pagerank_snapshot") is not None:
            ids, ranks = read(os.path.join("pagerank", "data", "snap-000001"), ["id", "rank"])
            self._check_ranks(done, expect, g, ids, ranks)
        if done("components") is not None:
            got = data.pair_checksum(*read("components", ["id", "component"]))
            expect("components", got, g["components"], "component checksum")
        if done("labelprop") is not None:
            got = data.pair_checksum(*read("labels", ["id", "label"]))
            expect("labelprop", got, g["labelprop"], "label checksum")
        return _problems(rep)

    @staticmethod
    def _check_triangles(done, expect, g, per_edge) -> None:
        if done("tc_total") is None:
            return
        n_tri = done("tc_total")["n_triangles"]
        expect("tc_total", n_tri, g["n_triangles"], "triangle count")
        if per_edge is None:
            return
        expect("tc_per_edge", per_edge, g["per_edge"], "per-edge checksum")
        # self-test: every triangle adds 1 to each of its three edges, so
        # the per-edge output (and its timing) covers the enumeration
        # rather than a join the optimizer pruned away
        expect("tc_per_edge", per_edge[1], 3 * n_tri, "sum of tri_cnt vs 3 x n_triangles")

    @staticmethod
    def _check_ranks(done, expect, g, ids, ranks) -> None:
        want = np.array([g["pagerank"].get(int(i), math.nan) for i in ids])
        close = bool(np.allclose(ranks, want, atol=data.PR_ATOL, rtol=0.0))
        expect("pagerank", close, True, "ranks allclose to dense_pagerank")
        expect("pagerank", sorted(ids.tolist()), sorted(g["pagerank"]), "ranked vertex ids")
        total = done("pagerank")["ranks"][1]
        expect("pagerank", abs(total - 1.0) <= data.PR_ATOL, True, "sum of ranks is 1")


def _problems(rep: dict) -> list[str]:
    out = [f"{op['name']}: {p}" for op in rep["ops"] for p in op.get("problems", [])]
    out += [f"{op['name']}: failed" for op in rep["ops"] if not op["ok"] and not op.get("problems")]
    if rep.get("error"):
        out.append(rep["error"].strip().splitlines()[-1])
    return out


# -------------------------------------------------------------- metrics
def rep_wall(rep: dict) -> float:
    """First layer call start to last output materialized."""
    return rep["ops"][-1]["t1"] - rep["ops"][0]["t0"]


def layer_time(rep: dict, names: set[str]) -> float:
    return sum(op["dur_s"] for op in rep["ops"] if op["name"] in names)


def layer_rates(rep: dict, n_pages: int | None) -> dict:
    """Throughputs of one pass, for the layers the workload runs:
    PageRank iterations x edges per PageRank second, canonical edges per
    second of TC total plus per-edge, pages per second of ingest."""
    ops = {op["name"]: op for op in rep["ops"]}
    out = {}
    if "pagerank" in ops:
        pr = ops["pagerank"]
        out["pr_edges_per_s"] = pr["out"]["iterations"] * graph_edges(rep) / pr["dur_s"]
    out["tc_edges_per_s"] = canonical_edges(rep) / layer_time(rep, {"tc_total", "tc_per_edge"})
    if "extract" in ops:
        out["ingest_pages_per_s"] = n_pages / layer_time(rep, {"extract", "canonicalize"})
    return out


def graph_edges(rep: dict) -> int:
    """Edges of the graph the workload's algorithms run on (crawl_job:
    directed link edges; triangles_skew: canonical edges)."""
    ops = {op["name"]: op for op in rep["ops"]}
    return ops["extract"]["out"]["edges"][0] if "extract" in ops else ops["build_dag"]["out"]["dag"][0]


def canonical_edges(rep: dict) -> int:
    ops = {op["name"]: op for op in rep["ops"]}
    return ops["canonicalize"]["out"]["canon"][0] if "canonicalize" in ops else graph_edges(rep)


def timed_reps(reps: list[dict]) -> list[dict]:
    """The passes the end-to-end times are taken from: every pass after
    the first, which also pays the JVM's compilation of the calls, when
    there is more than one; else the only pass. The median over them is
    then the same statistic whether a run fits two passes or three."""
    return reps[1:] or reps


def end_to_end(reps, setup_s, peak_mb, attempted, failed) -> dict:
    reps = timed_reps(reps)
    return {
        "wall_s": (statistics.median(rep_wall(r) for r in reps), "s"),
        "setup_s": (setup_s, "s"),
        "edges_per_s": (statistics.median(graph_edges(r) / rep_wall(r) for r in reps), "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "ok_frac": (1.0 - failed / attempted, "1"),
    }


def per_layer(rep: dict, n_pages, event_dir: str, reference: dict) -> dict:
    """Per-layer metrics of one traced pass (0 for layers it never calls),
    and the tracing overhead against an untraced ``reference`` pass."""
    log = eventlog.Log(eventlog.read_events(event_dir))
    spans: dict = {}
    for op in rep["ops"]:
        spans.setdefault(op["layer"], []).append((op["t0"], op["t1"]))
    m = eventlog.layer_metrics(log, spans)
    ops = {op["name"]: op for op in rep["ops"]}

    def out(name, key, default=0):
        v = ops.get(name, {}).get("out", {}).get(key)
        return default if v is None else v

    pr_steps = eventlog.superstep_times(log, "algorithms.pagerank")
    rates = layer_rates(rep, n_pages)
    m.update(
        {
            "algorithms.pagerank.supersteps": out("pagerank", "iterations"),
            "algorithms.pagerank.superstep_p50_s": statistics.median(pr_steps) if pr_steps else 0.0,
            "algorithms.pagerank.final_delta": out("pagerank", "final_delta", 0.0),
            "algorithms.pagerank.edges_per_s": rates.get("pr_edges_per_s", 0.0),
            "algorithms.components.rounds": max(0, len(log.commits("algorithms.components")) - 1),
            "algorithms.labelprop.supersteps": out("labelprop", "iterations"),
            "algorithms.labelprop.changed_last": out("labelprop", "changed_last"),
            "algorithms.triangles.n_triangles": out("tc_total", "n_triangles"),
            "algorithms.triangles.total_s": ops["tc_total"]["dur_s"],
            "algorithms.triangles.per_edge_s": ops["tc_per_edge"]["dur_s"],
            "algorithms.triangles.edges_per_s": rates["tc_edges_per_s"],
            "sources.extract.edges_out": out("extract", "edges", [0])[0],
            "sources.extract.pages_per_s": rates.get("ingest_pages_per_s", 0.0),
        }
    )
    # saves as the checkpoint manager logged them (metrics.jsonl records
    # that name a checkpoint); bytes of the committed iter= directories
    saves, nbytes = 0, 0
    for root, _, files in os.walk(rep["dir"]):
        if "metrics.jsonl" in files:
            with open(os.path.join(root, "metrics.jsonl")) as f:
                saves += sum("checkpoint" in json.loads(line) for line in f if line.strip())
        if os.path.basename(root).startswith("iter=") and "_SUCCESS" in files:
            nbytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    m["checkpoint.durable_saves"] = saves
    m["checkpoint.bytes_written_mb"] = nbytes / eventlog.MB
    m["checkpoint.persisted_rdds_after"] = max(op["persisted_after"] for op in rep["ops"])
    # over the calls both passes made: the reference may stop early
    # (``--stop-after``) so that the run ends in time
    both = {op["name"] for op in reference["ops"]}
    untraced = layer_time(reference, both)
    traced = layer_time(rep, both)
    m["tracing.untraced_s"] = untraced
    m["tracing.traced_s"] = traced
    m["tracing.overhead_frac"] = traced / untraced - 1.0
    return m


# ------------------------------------------------------------------ main
def main(argv: list[str] | None = None) -> int:
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "graphminer_spark", "__init__.py")):
        print("perfbench: no graphminer_spark package next to perfbench/", file=sys.stderr)
        return 2
    if args.workload not in OPS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    run_dir = os.path.join(tmp_root, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        return _run(args, data.SIZES[args.workload][args.scale], run_dir, start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run still uses it


def _session(args, run_dir: str, name: str, seconds: float, max_reps: int,
             traced: bool, timeout: float, stop_after: float) -> tuple[dict, float]:
    """One fresh driver process; returns its result and peak memory."""
    work = os.path.join(run_dir, name)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    result_path = os.path.join(work, "result.json")
    cmd = [
        "--workload", args.workload,
        "--inputs", os.path.join(run_dir, "inputs.json"),
        "--size", os.path.join(run_dir, "size.json"),
        "--work-dir", work,
        "--result", result_path,
        "--seconds", str(seconds),
        "--max-reps", str(max_reps),
        "--cores", str(min(4, len(os.sched_getaffinity(0)))),
        "--driver-memory", DRIVER_MEMORY,
    ]
    if traced:
        os.makedirs(os.path.join(work, "events"))
        cmd += ["--event-log", os.path.join(work, "events")]
    if math.isfinite(stop_after):
        cmd += ["--stop-after", repr(stop_after)]
    code, peak = run_session(cmd, env, os.path.join(work, "driver.log"), timeout)
    try:
        with open(result_path) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = {"reps": [], "error": None}
    if code != 0 and not res.get("error"):
        res["error"] = f"driver exited with code {code}"
    res["work"] = work
    return res, peak


def _run(args, size: dict, run_dir: str, start: float) -> int:
    inputs = data.make_inputs(args.workload, args.seed, size, os.path.join(run_dir, "input"))
    for name, obj in (("inputs.json", inputs), ("size.json", size)):
        with open(os.path.join(run_dir, name), "w") as f:
            json.dump(obj, f)

    planned = len(OPS[args.workload])
    # (name, seconds, max passes, traced): a traced run makes one traced
    # pass, then one untraced pass as the reference for the tracing
    # overhead, which starts no call it could not finish in time
    sessions = [("untraced", args.seconds, 1_000, False)]
    if args.trace:
        sessions = [("traced", 0.0, 1, True), ("reference", 0.0, 1, False)]
    checker = Checker(args.workload, args.seed, size, inputs)
    results = []
    attempted = failed = 0
    problems: list[str] = []
    for name, seconds, max_reps, traced in sessions:
        left = RUN_DEADLINE_S - (time.monotonic() - start)
        stop_after = math.inf
        if name == "reference":
            longest = max(
                (op["dur_s"] for r in results[0][0]["reps"] for op in r["ops"]), default=0.0
            )
            stop_after = time.time() + left - FINISH_S - 1.5 * longest
        res, peak = _session(args, run_dir, name, seconds, max_reps, traced,
                             max(1.0, left), stop_after)
        results.append((res, peak))
        if res.get("error"):
            problems.append(f"{name}: " + res["error"].strip().splitlines()[-1])
        if not res["reps"]:
            attempted += planned
            failed += planned
        for rep in res["reps"]:
            try:
                problems += checker.check_rep(rep)
            except Exception as exc:  # noqa: BLE001 - any unreadable output fails the pass
                for op in rep["ops"]:
                    op["ok"] = False
                problems.append(f"{name}: check failed: {exc!r}")
            # a pass stopped early for time attempted only the calls it made
            ran = len(rep["ops"]) if rep.get("truncated") else planned
            attempted += ran
            failed += ran - sum(1 for op in rep["ops"] if op["ok"])

    complete = [
        [
            r for r in res["reps"]
            if r["ops"] and all(op["ok"] for op in r["ops"])
            and (len(r["ops"]) == planned or r.get("truncated"))
        ]
        for res, _ in results
    ]
    if failed == 0 and not problems and not all(complete):
        problems.append("a session finished no call")
    for p in problems[:20]:
        print(f"problem: {p}")
    correct = failed == 0 and not problems
    # metrics come from complete passes; calls that failed elsewhere in
    # the run show in ok_frac (and make the run incorrect)
    metrics: dict = {}
    if not args.trace and complete[0]:
        res, peak = results[0]
        reps = complete[0]
        e2e = end_to_end(reps, res["setup_s"], peak, attempted, failed)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        _report(args, reps, e2e, failed / attempted, inputs.get("n_pages"))
    elif args.trace and all(complete):
        pl = per_layer(complete[0][0], inputs.get("n_pages"),
                       os.path.join(results[0][0]["work"], "events"), complete[1][0])
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in pl.items()}
        for k, v in metrics.items():
            print(f"  {k:48s} {v['value']:16.4f} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


def _report(args, reps: list[dict], e2e: dict, failed_frac: float, n_pages) -> None:
    """Human-readable summary: per-call medians, then the end-to-end
    metrics, including the throughputs of layers this workload runs."""
    print(f"workload {args.workload} seed {args.seed}: {len(reps)} passes, "
          f"walls {[round(rep_wall(r), 3) for r in reps]}")
    reps = timed_reps(reps)
    print(f"timed: the last {len(reps)} passes")
    for i, op in enumerate(reps[0]["ops"]):
        med = statistics.median(r["ops"][i]["dur_s"] for r in reps)
        print(f"  call {op['layer'] + ':' + op['name']:40s} {med:12.4f} s")
    for k, (v, unit) in e2e.items():
        print(f"  {k:20s} {v:16.4f} {unit}")
    rates = [layer_rates(r, n_pages) for r in reps]
    for k in ("pr_edges_per_s", "tc_edges_per_s", "ingest_pages_per_s"):
        vals = [r[k] for r in rates if k in r]
        shown = f"{statistics.median(vals):16.4f}" if vals else f"{'n/a':>16s}"
        print(f"  {k:20s} {shown} 1/s")
    print(f"  {'failed_frac':20s} {failed_frac:16.4f} 1")


def _unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_per_s"):
        return "1/s"
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix in ("task_skew", "overhead_frac", "final_delta"):
        return "1"
    return "count"


if __name__ == "__main__":
    # a terminated run still stops its driver sessions (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    raise SystemExit(main())
