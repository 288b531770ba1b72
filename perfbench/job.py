"""One measured job in a fresh process: set up Spark, run one workload
through the engine's public API, check the outputs, report as JSON.

Started by run.py; every run of a workload is a new interpreter and a new
JVM, because a spark-submit user pays start-up and JIT warm-up on every job.

    python3 perfbench/job.py --workload W --inputs DIR --scratch DIR
        --spawned T --trace 0|1 --edge-check 0|1 --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from pagerank_spark import LinkGraph, get_spark  # noqa: E402
from pagerank_spark.functions.extract import extract_edges_df  # noqa: E402
from pagerank_spark.functions.url_query import url_satisfies_query_py  # noqa: E402
from pagerank_spark.plans.checkpoint import IterationCheckpointer  # noqa: E402
from pagerank_spark.sources.table_io import TableIO  # noqa: E402
from spans import Tracer, find_event_log, layer_metrics, read_event_log  # noqa: E402

CORES = min(4, os.cpu_count() or 1)
# Tasks, not rows, cost most at these graph sizes: 2 partitions measured
# ~10% faster than 4 on rmat_analytics and no slower on crawl_rank.
SHUFFLE_PARTITIONS = 2
RANK_TOL = 1e-6
EDGE_CHECK_SHARE = 8  # the extracted edge multiset is compared on 1/8 of the pages


class Job:
    """One workload's state: the session, its input table, the phase times
    and the results of the checks."""

    def __init__(self, spark, tracer: Tracer, inp: str, manifest: dict, scratch: str,
                 edge_check: bool):
        self.spark, self.tracer, self.inp, self.manifest = spark, tracer, inp, manifest
        self.scratch, self.edge_check = scratch, edge_check
        self.io = TableIO(spark)
        self.input = None
        self.phase: dict[str, float] = {}
        self.info: dict = {}
        self.checks: list[tuple[str, bool, str]] = []

    def span(self, name):
        return self.tracer.span(name)

    def read(self, name: str, schema):
        with self.span("table_io"):
            return self.io.read(os.path.join(self.inp, name), schema=schema)

    def write(self, df, name: str) -> str:
        path = os.path.join(self.scratch, "out", name)
        with self.span("table_io"):
            self.io.write(df, path)
        return path

    def build(self, make):
        t0 = time.perf_counter()
        with self.span("graph_build"):
            graph = make()
            self.info["graph_edges"] = graph.num_edges()
            self.info["graph_vertices"] = graph.num_vertices()
        self.phase["build_s"] = time.perf_counter() - t0
        if self.tracer.spark_context is not None:
            self.info["cached_mb"] = _cached_mb(self.spark)
        return graph

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def check_ranks(self, name: str, path: str, expected: pd.DataFrame) -> pd.DataFrame:
        got = pd.read_parquet(path, columns=["url", "rank"])
        merged = expected.merge(got, on="url", how="outer", suffixes=("_want", "_got"))
        err = (merged["rank_want"] - merged["rank_got"]).abs().max()
        ok = len(got) == len(expected) == len(merged) and bool(err <= RANK_TOL)
        self.check(name, ok, f"rows {len(got)}/{len(expected)} max|err| {err:.3g}")
        return got


# -- workloads ---------------------------------------------------------------


def crawl_rank(job: Job) -> None:
    graph = job.build(lambda: LinkGraph.from_pages(job.input, filter_ratio=inputs.FILTER_RATIO))
    job.info["graph"] = graph
    t0 = time.perf_counter()
    m_rank: list = []
    with job.span("pagerank"):
        ranks = graph.pagerank(alpha=inputs.ALPHA, epsilon=inputs.EPSILON, metrics=m_rank)
    job.phase["rank_s"] = time.perf_counter() - t0
    ranks_path = job.write(ranks, "ranks")

    t0 = time.perf_counter()
    m_query: list = []
    with job.span("graph_build"):
        v = graph.make_personalization_vector(inputs.PERSONALIZATION_QUERY)
    with job.span("pagerank"):
        pranks = graph.pagerank(alpha=inputs.ALPHA, epsilon=inputs.EPSILON, v_df=v, metrics=m_query)
    with job.span("search"):
        top = graph.search(pranks, inputs.SEARCH_QUERY, inputs.SEARCH_K).collect()
    job.phase["query_s"] = time.perf_counter() - t0
    pranks_path = job.write(pranks, "pranks")
    job.info["pagerank_runs"] = [(m_rank, job.info["graph_edges"]), (m_query, job.info["graph_edges"])]
    job.info["outputs"] = (ranks_path, pranks_path, top)


def crawl_rank_checks(job: Job) -> None:
    ranks_path, pranks_path, top = job.info["outputs"]
    graph = job.info["graph"]
    inp = job.inp
    if job.edge_check:
        # the engine's extractor on a seeded sample of the pages (the full
        # edge table is checked below, after the filters)
        urls = sorted(set(pd.read_parquet(os.path.join(inp, "pages"), columns=["url"]).url))
        rng = np.random.default_rng(job.manifest["seed"])
        sample = rng.choice(urls, size=max(1, len(urls) // EDGE_CHECK_SHARE), replace=False).tolist()
        want = pd.read_parquet(os.path.join(inp, "raw_edges.parquet"))
        got = (
            extract_edges_df(job.input.where(F.col("url").isin(sample)))
            .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n")).toPandas()
        )
        want = want[want.src.isin(sample)].groupby(["src", "dst"]).size().rename("n").reset_index()
        merged = want.merge(got, on=["src", "dst"], how="outer", suffixes=("_want", "_got"))
        ok = len(merged) == len(want) == len(got) and bool((merged.n_want == merged.n_got).all())
        job.check("extract_edge_multiset", ok, f"pairs {len(got)}/{len(want)}")

    got = graph.edges.toPandas()
    want = pd.read_parquet(os.path.join(inp, "edges.parquet"))
    merged = want.merge(got, on=["src", "dst"], how="outer", suffixes=("_want", "_got"))
    err = (merged.weight_want - merged.weight_got).abs().max()
    job.check("graph_edges", len(merged) == len(want) == len(got) and bool(err <= 1e-12),
              f"edges {len(got)}/{len(want)}")

    job.check_ranks("ranks", ranks_path, pd.read_parquet(os.path.join(inp, "ranks.parquet")))
    want_p = pd.read_parquet(os.path.join(inp, "pranks.parquet"))
    job.check_ranks("personalized_ranks", pranks_path, want_p)

    match = want_p[[url_satisfies_query_py(u, inputs.SEARCH_QUERY) for u in want_p.url]]
    best = np.sort(match["rank"].to_numpy())[::-1][: inputs.SEARCH_K]
    oracle = dict(zip(want_p.url, want_p["rank"]))
    ok = len(top) == len(best) and all(
        r["result_rank"] == i
        and abs(r["pagerank"] - best[i]) <= RANK_TOL
        and abs(oracle.get(r["url"], np.inf) - r["pagerank"]) <= RANK_TOL
        for i, r in enumerate(top)
    )
    job.check("search_top_k", ok, f"{len(top)} results")


class TracedCheckpointer(IterationCheckpointer):
    """IterationCheckpointer with a span around each save and resume."""

    def __init__(self, tracer: Tracer, *args, **kw):
        super().__init__(*args, **kw)
        self.tracer = tracer
        self.resumed_at = 0

    def save(self, iteration, x, dangling_mass, residual):
        with self.tracer.span("checkpoint"):
            return super().save(iteration, x, dangling_mass, residual)

    def try_resume(self):
        with self.tracer.span("checkpoint") as s:
            s.info["op"] = "resume"
            resumed = super().try_resume()
        if resumed is not None:
            self.resumed_at = resumed[0]
        return resumed


STOP_AFTER = 2  # iterations before the simulated interruption


def rank_resume(job: Job, graph) -> None:
    """Checkpointed PageRank stopped after STOP_AFTER iterations and resumed,
    then the CSR/Arrow PageRank on the same graph."""
    ck_dir = os.path.join(job.scratch, "checkpoint")
    p = graph.num_partitions
    n_e = job.info["graph_edges"]
    # the shuffle-join mode the engine picks above 5M edges, pinned here
    kw = dict(alpha=inputs.ALPHA, epsilon=inputs.EPSILON, broadcast_ranks=False)
    t0 = time.perf_counter()
    m1: list = []
    first = TracedCheckpointer(job.tracer, job.spark, ck_dir, p, n_edges=n_e)
    with job.span("pagerank"):
        graph.pagerank(max_iterations=STOP_AFTER, checkpointer=first, metrics=m1, **kw)
    m2: list = []
    again = TracedCheckpointer(job.tracer, job.spark, ck_dir, p, n_edges=n_e)
    with job.span("pagerank"):
        ranks = graph.pagerank(checkpointer=again, metrics=m2, **kw)
    job.phase["rank_s"] = time.perf_counter() - t0
    ranks_path = job.write(ranks, "ranks")

    t0 = time.perf_counter()
    m3: list = []
    with job.span("pagerank_csr"):
        csr = graph.pagerank_csr(
            alpha=inputs.ALPHA, epsilon=inputs.EPSILON, metrics=m3,
            scratch_dir=os.path.join(job.scratch, "csr"),
        )
    job.phase["rank_csr_s"] = time.perf_counter() - t0
    csr_path = job.write(csr, "ranks_csr")
    job.info["pagerank_runs"] = [(m1, n_e), (m2, n_e)]
    job.info["csr_runs"] = [m3]
    job.info["checkpoint"] = dict(
        dir=ck_dir, recomputed=max(0, len(m1) - again.resumed_at), iterations=len(m1) + len(m2)
    )
    job.info["rank_outputs"] = (ranks_path, csr_path, len(m3))


def rank_resume_checks(job: Job) -> None:
    ranks_path, csr_path, csr_iters = job.info["rank_outputs"]
    want = pd.read_parquet(os.path.join(job.inp, "ranks.parquet"))
    v1 = job.check_ranks("ranks_resumed", ranks_path, want)
    csr = job.check_ranks("ranks_csr", csr_path, want)
    both = v1.merge(csr, on="url", how="outer")
    err = (both.rank_x - both.rank_y).abs().max()
    job.check("v1_vs_csr", len(both) == len(v1) == len(csr) and bool(err <= RANK_TOL),
              f"max|err| {err:.3g}")
    total = job.info["checkpoint"]["iterations"]
    expected = job.manifest["iterations"]
    job.check("resumed_iterations", total == expected and job.info["checkpoint"]["recomputed"] == 0,
              f"{total} resumed vs {expected} uninterrupted")
    job.check("csr_iterations", csr_iters == expected, f"{csr_iters} vs {expected}")


def graph_structure(job: Job, graph) -> None:
    """Components, label propagation and triangles: three shuffle shapes."""
    t0 = time.perf_counter()
    with job.span("components"):
        cc = graph.connected_components()
    cc_path = job.write(cc, "components")
    with job.span("labelprop"):
        labels = graph.label_propagation(max_iterations=inputs.LPA_ROUNDS)
    labels_path = job.write(labels, "labels")
    with job.span("triangles"):
        n_tri = graph.triangle_count().collect()[0]["n_triangles"]
    job.phase["structure_s"] = time.perf_counter() - t0
    job.info["structure_outputs"] = (cc_path, labels_path, n_tri)


def graph_structure_checks(job: Job) -> None:
    cc_path, labels_path, n_tri = job.info["structure_outputs"]
    want = pd.read_parquet(os.path.join(job.inp, "structure.parquet"))
    for name, path, col in (("components", cc_path, "component"), ("labels", labels_path, "label")):
        got = pd.read_parquet(path).rename(columns={col: "got"})
        merged = want[["url", col]].merge(got, on="url", how="outer")
        ok = len(merged) == len(want) == len(got) and bool((merged[col] == merged["got"]).all())
        job.check(name, ok, f"rows {len(got)}/{len(want)}")
    job.check("triangles", n_tri == job.manifest["triangles"], f"{n_tri} vs {job.manifest['triangles']}")


def rmat_analytics(job: Job) -> None:
    graph = job.build(lambda: LinkGraph.from_edges(job.input))
    rank_resume(job, graph)
    graph_structure(job, graph)


def rmat_analytics_checks(job: Job) -> None:
    rank_resume_checks(job)
    graph_structure_checks(job)


PAGES = "url string, warc_ts timestamp, html binary, lang string"
EDGES = "src string, dst string"
# workload -> (input table, its schema, job, checks)
WORKLOADS = {
    "crawl_rank": ("pages", PAGES, crawl_rank, crawl_rank_checks),
    "rmat_analytics": ("raw_edges", EDGES, rmat_analytics, rmat_analytics_checks),
}


# -- traced-run extras ---------------------------------------------------------


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def _iteration_stats(runs) -> tuple[int, float, float]:
    """(iterations, seconds in iteration bodies, edge visits) over runs."""
    iters = sum(len(m) for m, *_ in runs)
    wall = sum(r["wall_s"] for m, *_ in runs for r in m)
    visits = sum(len(m) * n_e for m, n_e in runs)
    return iters, wall, visits


def traced_layers(job: Job, per_span: dict) -> dict[str, float]:
    tr = job.tracer
    out = layer_metrics(tr, per_span)
    m = job.manifest
    for layer in ("components", "labelprop"):
        out[f"{layer}.actions"] = float(sum(per_span[s.id]["sql"] for s in tr.spans if s.name == layer))
    extract = [s for s in tr.spans if s.name == "extract"]
    out["extract.pages_per_s"] = m["pages"] / sum(s.duration for s in extract) if extract else 0.0
    out["extract.python_mb_sent"] = sum(per_span[s.id]["python_mb_sent"] for s in extract)

    out["graph_build.edges_in"] = float(m["raw_edges"])
    out["graph_build.edges_kept_ratio"] = job.info["graph_edges"] / m["raw_edges"]
    out["graph_build.cached_mb"] = job.info.get("cached_mb", 0.0)

    pr_self = sum(tr.self_time(s) for s in tr.spans if s.name == "pagerank")
    iters, wall, visits = _iteration_stats(job.info.get("pagerank_runs", []))
    out["pagerank.iterations"] = float(iters)
    out["pagerank.s_per_iter"] = wall / iters if iters else 0.0
    out["pagerank.init_s"] = pr_self - wall if iters else 0.0
    out["pagerank.edge_visits_per_s"] = visits / wall if wall else 0.0

    ck = job.info.get("checkpoint")
    out["checkpoint.save_s"] = sum(
        s.duration for s in tr.spans if s.name == "checkpoint" and s.info.get("op") != "resume"
    ) if ck else 0.0
    out["checkpoint.written_mb"] = _dir_mb(ck["dir"]) if ck else 0.0
    out["checkpoint.recomputed_iterations"] = float(ck["recomputed"]) if ck else 0.0

    csr_runs = job.info.get("csr_runs", [])
    csr_iters = sum(len(r) for r in csr_runs)
    csr_wall = sum(x["wall_s"] for r in csr_runs for x in r)
    out["pagerank_csr.iterations"] = float(csr_iters)
    out["pagerank_csr.s_per_iter"] = csr_wall / csr_iters if csr_iters else 0.0
    out["pagerank_csr.spill_s"] = (tr.total("pagerank_csr") - csr_wall) if csr_iters else 0.0
    return out


# -- main ----------------------------------------------------------------------


def spark_conf(scratch: str, trace: bool, event_dir: str) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # get_spark ties scan parallelism to the shuffle partitions; input
        # scans (and the extractor's Python tasks) still use every core
        "spark.sql.files.minPartitionNum": str(CORES),
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # all JVM scratch inside the job directory; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--edge-check", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    with open(os.path.join(a.inputs, "MANIFEST.json")) as f:
        manifest = json.load(f)
    table, schema, run, checks = WORKLOADS[a.workload]
    tracer = Tracer(os.path.basename(a.scratch))
    event_dir = os.path.join(a.scratch, "events")
    os.makedirs(event_dir, exist_ok=True)
    result: dict = {"calls_failed": 0, "errors": []}

    with tracer.span("session"):
        spark = get_spark(
            app_name=f"perfbench-{a.workload}",
            master=f"local[{CORES}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=spark_conf(a.scratch, bool(a.trace), event_dir),
        )
    if a.trace:
        tracer.spark_context = spark.sparkContext
    job = Job(spark, tracer, a.inputs, manifest, a.scratch, bool(a.edge_check))
    job.input = job.read(table, schema)
    result["setup_s"] = time.time() - a.spawned
    conf = spark.sparkContext.getConf()
    result["env"] = {
        "master": conf.get("spark.master"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": conf.get("spark.driver.memory"),
        "spark.local.dir": conf.get("spark.local.dir"),
        "spark.ui.showConsoleProgress": conf.get("spark.ui.showConsoleProgress"),
        "PYTHONPATH": os.environ.get("PYTHONPATH"),
    }

    t0 = time.perf_counter()
    try:
        run(job)
        result["job_s"] = time.perf_counter() - t0
        checks(job)
        if a.trace and a.workload == "crawl_rank":
            with tracer.span("extract"):
                extract_edges_df(job.input).write.format("noop").mode("overwrite").save()
    except Exception:
        result["calls_failed"] += 1
        result["errors"].append(traceback.format_exc())
        traceback.print_exc()
    result["calls"] = sum(1 for s in tracer.spans if s.name not in ("session", "checkpoint"))
    spark.stop()

    result.update(job.phase)
    result["checks"] = job.checks
    if "job_s" in result and "build_s" in job.phase:
        result["analytics_s"] = result["job_s"] - job.phase["build_s"]
        if "pages" in manifest:
            result["pages_per_s"] = manifest["pages"] / job.phase["build_s"]
    if a.trace and not result["errors"]:
        per_span = read_event_log(find_event_log(event_dir), tracer)
        result["layers"] = traced_layers(job, per_span)
        tracer.dump(os.path.join(a.scratch, "spans.jsonl"))
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
