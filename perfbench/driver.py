"""One benchmark driver process: a fresh JVM running one workload.

``run.py`` starts it as a process of its own for every session and
imports only its :data:`OPS` table. It sets Spark up (timed as
``setup_s``), then makes the workload's
public calls one after another in a closed loop with a single client,
starting the whole call sequence again until ``--seconds`` have passed
(so at least once, and the last pass may run over). Each
layer call runs under a Spark job group named after the layer, so a
traced session's event log can be attributed layer by layer.

Every timed call ends in an action that consumes every output column:
a parquet write or an order-insensitive checksum aggregate, never a
bare ``count()``. Outputs are checked later, untimed, by ``run.py``.

Writes one JSON file (``--result``) with the set-up time, every span
(layer, start, end), every output checksum and per-call counts.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import traceback
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import data  # noqa: E402

# a call sequence is abandoned at its first failed call; the calls that
# could not run then count as attempted and failed
OPS = {
    "crawl_job": [
        ("sources.extract", "extract"),
        ("graph.build", "canonicalize"),
        ("sinks", "write_graph"),
        ("algorithms.triangles", "tc_total"),
        ("algorithms.triangles", "tc_per_edge"),
        ("algorithms.pagerank", "pagerank"),
        ("sinks", "pagerank_snapshot"),
        ("algorithms.components", "components"),
        ("algorithms.labelprop", "labelprop"),
    ],
    "triangles_skew": [
        ("graph.build", "build_dag"),
        ("algorithms.triangles", "tc_total"),
        ("algorithms.triangles", "tc_per_edge"),
    ],
}


class OutOfTime(Exception):
    """A call was due after the session's ``--stop-after`` time."""


class Rep:
    """Spans and outputs of one pass over a workload's call sequence."""

    def __init__(self, spark, out_dir: str, stop_after: float):
        self.spark = spark
        self.sc = spark.sparkContext
        self.out_dir = out_dir
        self.stop_after = stop_after
        os.makedirs(out_dir, exist_ok=True)
        self.ops: list[dict] = []
        self._cleanup: list = []

    @contextmanager
    def op(self, layer: str, name: str):
        """One operation: a layer call plus the action that forces its
        output, under the layer's job group. A call due after the
        session's stop time is not started."""
        if time.time() > self.stop_after:
            raise OutOfTime(name)
        rec: dict = {"layer": layer, "name": name, "out": {}, "ok": True}
        self.ops.append(rec)
        self.sc.setJobGroup(layer, f"{layer}:{name}", False)
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        try:
            yield rec["out"]
        finally:
            rec["dur_s"] = time.perf_counter() - p0
            rec["t1"] = time.time()
            self.sc.setJobGroup("perfbench", "untimed", False)
            rec["persisted_after"] = len(self.sc._jsc.getPersistentRDDs())

    def persist(self, df):
        """Persist ``df`` and release it when the pass ends."""
        df = df.persist()
        self._cleanup.append(df)
        return df

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def release(self) -> None:
        for df in self._cleanup:
            df.unpersist()


# ------------------------------------------------------------ workloads
def crawl_job(rep: Rep, inputs: dict, size: dict) -> None:
    """``jobs/linkgraph_job.py`` main(): ingest, canonicalize, write the
    graph, TC, then PageRank / CC / LP on durable checkpoints."""
    from pyspark.sql import functions as F

    from graphminer_spark.algorithms.components import connected_components
    from graphminer_spark.algorithms.labelprop import label_propagation
    from graphminer_spark.algorithms.pagerank import pagerank
    from graphminer_spark.algorithms.triangles import (
        per_edge_triangles,
        triangle_count,
    )
    from graphminer_spark.checkpoint import CheckpointManager
    from graphminer_spark.graph.build import build_dag, symmetrize
    from graphminer_spark.sinks import write_snapshot
    from graphminer_spark.sources.extract import (
        audit_id_collisions,
        build_link_graph,
    )

    spark = rep.spark
    pages = spark.read.parquet(inputs["pages"])
    with rep.op("sources.extract", "extract") as out:
        vertices, edges = build_link_graph(pages)
        edges = rep.persist(edges)
        out["edges"] = data.spark_checksum(edges, ("src", "dst"))
        out["collisions"] = audit_id_collisions(vertices)
        verts = rep.persist(vertices.select("id"))
        out["verts"] = data.spark_checksum(verts, ("id", "id"))
    with rep.op("graph.build", "canonicalize") as out:
        canon = rep.persist(
            edges.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            ).distinct()
        )
        sym = rep.persist(symmetrize(canon, dedup=False))
        out["canon"] = data.spark_checksum(canon, ("src", "dst"))
        out["sym"] = data.spark_checksum(sym, ("src", "dst"))
    with rep.op("sinks", "write_graph"):
        edges.write.mode("overwrite").parquet(rep.path("edges"))
        vertices.write.mode("overwrite").parquet(rep.path("vertices"))
    with rep.op("algorithms.triangles", "tc_total") as out:
        dag = build_dag(canon)
        out["n_triangles"] = int(triangle_count(dag).collect()[0][0])
    with rep.op("algorithms.triangles", "tc_per_edge"):
        per_edge_triangles(canon, dag).write.mode("overwrite").parquet(
            rep.path("tc_per_edge")
        )
    with rep.op("algorithms.pagerank", "pagerank") as out:
        ck = CheckpointManager(rep.path("ckpt_pagerank"), every=5)
        res = pagerank(edges, verts, tol=1e-6, max_iter=100, checkpointer=ck)
        out["ranks"] = data.rank_checksum_spark(res.ranks)
        out["iterations"] = res.iterations
        out["final_delta"] = res.deltas[-1] if res.deltas else None
    with rep.op("sinks", "pagerank_snapshot") as out:
        out["snapshot"] = write_snapshot(
            res.ranks,
            rep.path("pagerank"),
            key_col="id",
            metrics={"iterations": res.iterations, "converged": res.converged},
        )
    with rep.op("algorithms.components", "components"):
        ck = CheckpointManager(rep.path("ckpt_cc"), every=5)
        cc = connected_components(edges, verts, checkpointer=ck)
        cc.write.mode("overwrite").parquet(rep.path("components"))
    with rep.op("algorithms.labelprop", "labelprop") as out:
        ck = CheckpointManager(rep.path("ckpt_lp"), every=5)
        lp = label_propagation(
            sym, verts, n_iter=size["lp_iter"], checkpointer=ck, until_stable=True
        )
        lp.labels.write.mode("overwrite").parquet(rep.path("labels"))
        out["iterations"] = lp.iterations
        out["changed_last"] = lp.changed[-1] if lp.changed else -1


def triangles_skew(rep: Rep, inputs: dict, size: dict) -> None:
    """Degree-ordered DAG, total and per-edge triangle counts on a
    skewed graph: one shuffle-bound wedge join over hot partitions."""
    from graphminer_spark.algorithms.triangles import (
        per_edge_triangles,
        triangle_count,
    )
    from graphminer_spark.graph.build import build_dag

    canon = inputs["edges_df"]
    with rep.op("graph.build", "build_dag") as out:
        dag = build_dag(canon)
        out["dag"] = data.spark_checksum(dag, ("src", "dst"))
    with rep.op("algorithms.triangles", "tc_total") as out:
        out["n_triangles"] = int(triangle_count(dag).collect()[0][0])
    with rep.op("algorithms.triangles", "tc_per_edge") as out:
        out["per_edge"] = data.spark_checksum(
            per_edge_triangles(canon, dag), ("src", "dst", "tri_cnt")
        )


WORKLOADS = {f.__name__: f for f in (crawl_job, triangles_skew)}


def load_inputs(spark, workload: str, inputs: dict) -> dict:
    """Read the generated inputs (untimed): crawl_job reads its pages
    inside the pass, as the job does; triangles_skew's edge table is
    persisted once per process."""
    if workload == "crawl_job":
        return inputs
    edges = spark.read.parquet(inputs["edges"]).persist()
    data.spark_checksum(edges, ("src", "dst"))
    return {**inputs, "edges_df": edges}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True, help="inputs description (JSON)")
    ap.add_argument("--size", required=True, help="workload size (JSON)")
    ap.add_argument("--work-dir", required=True, help="per-session output root")
    ap.add_argument("--result", required=True, help="result file to write")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--max-reps", type=int, default=1_000)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--driver-memory", required=True, help="JVM heap, e.g. 2g")
    ap.add_argument("--event-log", default="", help="event-log directory (traces)")
    ap.add_argument("--stop-after", type=float, default=math.inf,
                    help="epoch time after which no call starts; the pass "
                    "then ends early, with no call failed")
    args = ap.parse_args(argv)

    from graphminer_spark.session import get_spark

    conf = {
        # a fixed-size heap: resident memory then follows the pages the
        # program touches, not the collector's resizing decisions
        "spark.driver.memory": args.driver_memory,
        "spark.driver.extraJavaOptions": f"-Xms{args.driver_memory}",
        "spark.sql.warehouse.dir": os.path.join(args.work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.abspath(args.event_log),
            }
        )
    result: dict = {"reps": [], "error": None}
    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        cores=args.cores,
        shuffle_partitions=args.cores,
        extra_conf=conf,
    )
    result["setup_s"] = time.perf_counter() - t0
    try:
        with open(args.inputs) as f:
            inputs = load_inputs(spark, args.workload, json.load(f))
        with open(args.size) as f:
            size = json.load(f)
        spark.sparkContext.setJobGroup("perfbench", "untimed", False)
        start = time.perf_counter()
        while len(result["reps"]) < args.max_reps and (
            not result["reps"] or time.perf_counter() - start < args.seconds
        ):
            rep_dir = os.path.join(args.work_dir, f"rep{len(result['reps'])}")
            rep = Rep(spark, rep_dir, args.stop_after)
            entry = {"dir": rep_dir, "ops": rep.ops}
            result["reps"].append(entry)
            try:
                WORKLOADS[args.workload](rep, inputs, size)
            except OutOfTime:
                entry["truncated"] = True
                break
            except Exception:
                if rep.ops:
                    rep.ops[-1]["ok"] = False
                entry["error"] = traceback.format_exc()
                break
            finally:
                rep.release()
    except Exception:
        result["error"] = traceback.format_exc()
    finally:
        spark.stop()
        with open(args.result, "w") as f:
            json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
