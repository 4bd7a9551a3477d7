"""The workloads: seeded set-up, the timed job, and its output checks.

A job is a fixed sequence of public engine calls, each forced by an action
and each one *operation*: a call that raises, or whose output fails its
check, counts as failed.  Checks run after the timed job, against the
Python references in ``reference.py``.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from graph_computing_go_spark.functions import (
    degree_distribution_entropy,
    google_distance,
    structural_entropy,
)
from graph_computing_go_spark.plans import (
    SuperstepRunner,
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from graph_computing_go_spark.plans.subjects import subject_entropy_lifecycle
from graph_computing_go_spark.plans.yearly import yearly_entropy_pipeline
from graph_computing_go_spark.sources import (
    build_edge_table,
    synthesize_repos,
    verify_content_sha256,
)
from graph_computing_go_spark.sources.io import read_result, write_result

import reference
from inputs import hub_graph, with_years_subjects


class TracedRunner(SuperstepRunner):
    """The engine's superstep runner with its ``run`` inside a
    ``plans.superstep`` span, so superstep jobs separate from the calling
    algorithm's own set-up jobs."""

    def __init__(self, spark, tracer, **kw):
        super().__init__(spark, **kw)
        self.tracer = tracer

    def run(self, *args, **kw):
        with self.tracer.span("plans.superstep"):
            return super().run(*args, **kw)


class Job:
    """Operation ledger and superstep record of one execution of a job."""

    def __init__(self, spark, tracer, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.ops: dict[str, str | None] = {}  # name -> failure, or None
        self.op_s: dict[str, float] = {}  # name -> wall seconds
        self.runners: list[tuple[str, int, TracedRunner]] = []
        self.out: dict = {}

    def call(self, name: str, layer: str, fn):
        """Run one operation inside a span of ``layer``."""
        self.ops[name] = "raised"
        t0 = time.perf_counter()
        with self.tracer.span(layer):
            result = fn()
        self.op_s[name] = time.perf_counter() - t0
        self.ops[name] = None
        return result

    def runner(self, algo: str, n_edges: int, **kw) -> TracedRunner:
        r = TracedRunner(self.spark, self.tracer, **kw)
        self.runners.append((algo, n_edges, r))
        return r

    def check(self, name: str, ok: bool, why: str) -> None:
        if not ok and self.ops.get(name) is None:
            self.ops[name] = why

    @property
    def edge_supersteps(self) -> int:
        return sum(n * len(r.metrics) for _, n, r in self.runners)


def _no_nulls(pdf: pd.DataFrame) -> bool:
    return not pdf.isna().any().any()


def _finite(row) -> bool:
    return all(v is not None and math.isfinite(v) for v in row)


def _same_ranks(got: pd.DataFrame, want: pd.Series) -> bool:
    g = got.set_index("id")["rank"].sort_index()
    return g.index.equals(want.index) and np.allclose(
        g.to_numpy(), want.to_numpy(), rtol=1e-9, atol=1e-15
    )


class Workload:
    def cleanup(self, job: Job) -> None:
        """Release what the job left behind, after its checks."""


class Superstep(Workload):
    why = (
        "PageRank, connected components and label propagation on one cached "
        "hub-skewed graph: supersteps and per-algorithm set-up, no ingest"
    )
    N_EDGES = 100_000
    N_VERTICES = 10_000
    PR_STEPS = 5
    LPA_STEPS = 3

    def sizes(self) -> dict:
        return {"edges": self.N_EDGES, "vertices": self.N_VERTICES,
                "pagerank_supersteps": self.PR_STEPS,
                "labelprop_supersteps": self.LPA_STEPS}

    def setup(self, spark, seed: int) -> dict:
        edges = hub_graph(spark, self.N_EDGES, self.N_VERTICES, seed).cache()
        return {"edges": edges, "n_edges": edges.count()}

    def run(self, job: Job, inp: dict) -> None:
        edges, n = inp["edges"], inp["n_edges"]

        def pr():
            ranks, it = pagerank(edges, tol=0.0, max_iter=self.PR_STEPS,
                                 runner=job.runner("pagerank", n))
            return ranks.toPandas(), it

        def cc():
            comps, it = connected_components(
                edges, runner=job.runner("connected_components", n))
            return comps.toPandas(), it

        def lpa():
            labels, it = label_propagation(
                edges, exact_iters=self.LPA_STEPS,
                runner=job.runner("label_propagation", n))
            return labels.toPandas(), it

        job.out["pagerank"] = job.call("pagerank", "plans.pagerank", pr)
        job.out["components"] = job.call("components", "plans.components", cc)
        job.out["labelprop"] = job.call("labelprop", "plans.labelprop", lpa)

    def check(self, job: Job, inp: dict) -> None:
        e = inp["edges"].toPandas()
        src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
        n_v = len(np.unique(np.concatenate([src, dst])))
        for name in ("pagerank", "components", "labelprop"):
            pdf, _ = job.out[name]
            job.check(name, len(pdf) == n_v and _no_nulls(pdf),
                      f"{len(pdf)} rows (want {n_v}) or NULLs")

        ranks, it = job.out["pagerank"]
        job.check("pagerank", it == self.PR_STEPS, f"{it} supersteps")
        job.check("pagerank",
                  _same_ranks(ranks, reference.pagerank(src, dst, self.PR_STEPS)),
                  "ranks differ from the reference")

        comps, it = job.out["components"]
        want, steps = reference.min_label_components(src, dst)
        job.check("components", it == steps, f"{it} supersteps (want {steps})")
        got = comps.set_index("id")["component"].sort_index()
        job.check("components", got.index.equals(want.index)
                  and np.array_equal(got.to_numpy(), want.to_numpy()),
                  "components differ from the reference")

        labels, it = job.out["labelprop"]
        job.check("labelprop", it == self.LPA_STEPS, f"{it} supersteps")
        want = reference.label_propagation(src, dst, self.LPA_STEPS)
        got = labels.set_index("id")["label"].sort_index()
        job.check("labelprop", got.index.equals(want.index)
                  and np.array_equal(got.to_numpy(), want.to_numpy()),
                  "labels differ from the reference")


class Codegraph(Workload):
    why = (
        "ingest round trip, Arrow import-extraction UDF, degree and structural "
        "entropy, NGD, triangles, the yearly and subject lifecycles, and a "
        "checkpointed PageRank resumed mid-run"
    )
    N_FILES = 2_000
    NGD_CORE = 200
    FIRST_YEAR = 2000
    VERTEX_YEARS = 6  # file years spread over 2000..2005
    # one snapshot year walked, so the year filter drops 2005's files
    WALK = [2004]
    LADDER_ROWS = 6 * 2  # the pipeline's percent ladder x two rank universes
    PR_FIRST = 4
    PR_TOTAL = 8

    def sizes(self) -> dict:
        return {"files": self.N_FILES, "ngd_core": self.NGD_CORE,
                "vertex_years": self.VERTEX_YEARS, "walked_years": len(self.WALK),
                "pagerank_supersteps": f"{self.PR_FIRST} then resume to {self.PR_TOTAL}"}

    def setup(self, spark, seed: int) -> dict:
        repos = synthesize_repos(spark, n_files=self.N_FILES, seed=seed).cache()
        return {"repos": repos, "n_files": repos.count(), "seed": seed}

    def run(self, job: Job, inp: dict) -> None:
        spark, repos = job.spark, inp["repos"]
        wh = job.out["warehouse"] = tempfile.mkdtemp(prefix="codegraph-", dir=job.work_dir)

        def round_trip():
            write_result(repos, wh, "repos")
            return read_result(spark, wh, "repos")

        ingested = job.call("write_read", "sources.io", round_trip)
        job.out["verified"] = job.call(
            "verify", "sources.ingest", lambda: verify_content_sha256(repos, ingested))
        table = build_edge_table(ingested).cache()
        job.out["n_edges"] = n = job.call("build_edges", "sources.ingest", table.count)
        edges = table.select("src", "dst")

        job.out["dd_entropy"] = job.call(
            "dd_entropy", "functions.entropy",
            lambda: degree_distribution_entropy(edges).collect())
        job.out["structural"] = job.call(
            "structural", "functions.entropy",
            lambda: structural_entropy(edges).collect())

        n_vertices = (
            edges.select(F.explode(F.array("src", "dst"))).distinct().count()
        )
        core = spark.createDataFrame(
            edges.groupBy(F.col("dst").alias("id")).count()
            .orderBy(F.desc("count"), "id").limit(self.NGD_CORE)
            .select("id").collect(),
            "id long",
        )
        ngd = google_distance(edges, core, n_vertices, core_count=self.NGD_CORE).cache()
        job.out["ngd"] = job.call("ngd", "functions.ngd", ngd.collect)

        job.out["triangles"] = job.call(
            "triangles", "plans.triangles",
            lambda: triangle_count(edges).collect()[0]["n_triangles"])

        # the flagship walks over the code graph, files dated and tagged
        # with subjects by hash
        verts = with_years_subjects(
            edges.select(F.explode(F.array("src", "dst")).alias("id")).distinct(),
            self.FIRST_YEAR, self.VERTEX_YEARS, inp["seed"],
        ).cache()
        verts.count()
        job.out["walked_years"] = len(self.WALK)
        job.out["yearly"] = job.call(
            "yearly", "plans.yearly",
            lambda: yearly_entropy_pipeline(
                verts.select("id", "year"), edges, years=self.WALK).collect())
        job.out["subjects"] = job.call(
            "subjects", "plans.subjects",
            lambda: subject_entropy_lifecycle(verts, edges, years=self.WALK).collect())

        ckpt = os.path.join(wh, "checkpoints")

        def durable(max_iter: int, resume: bool):
            r = job.runner("pagerank", n, checkpoint_dir=ckpt, checkpoint_every=1)
            ranks, it = pagerank(edges, tol=0.0, max_iter=max_iter, runner=r,
                                 resume=resume)
            return ranks.toPandas(), it, r.metrics[0]["iter"] if r.metrics else None

        job.out["pagerank_first"] = job.call(
            "pagerank_first", "plans.pagerank", lambda: durable(self.PR_FIRST, False))
        job.out["pagerank_resume"] = job.call(
            "pagerank_resume", "plans.pagerank", lambda: durable(self.PR_TOTAL, True))
        job.out["edges"] = edges
        job.out["vertices"] = verts
        job.out["cached"] = (ngd, verts, table)

    def cleanup(self, job: Job) -> None:
        for df in job.out.get("cached", ()):
            df.unpersist()
        if "warehouse" in job.out:
            shutil.rmtree(job.out["warehouse"], ignore_errors=True)

    def check(self, job: Job, inp: dict) -> None:
        n_files = inp["n_files"]
        job.check("verify", job.out["verified"] == n_files,
                  f"{job.out['verified']} rows verified (want {n_files})")
        repos = inp["repos"].toPandas()
        want = reference.resolved_imports(repos)
        n = job.out["n_edges"]
        job.check("build_edges", n == sum(want.values()),
                  f"{n} edges (want {sum(want.values())})")
        for name in ("dd_entropy", "structural"):
            rows = job.out[name]
            job.check(name, len(rows) == 1 and _finite(rows[0]), f"{rows}")
        ngd = job.out["ngd"]
        job.check("ngd", len(ngd) > 0 and all(_finite(r) for r in ngd),
                  f"{len(ngd)} pairs, or a non-finite value")

        e = job.out["edges"].toPandas()
        src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
        yearly = job.out["yearly"]
        keys = {(r["year"], r["percent"], r["rank_type"]) for r in yearly}
        want = len(self.WALK) * self.LADDER_ROWS
        job.check("yearly", len(yearly) == want == len(keys),
                  f"{len(yearly)} rows, {len(keys)} keys (want {want})")
        got = [(r["year"], r["subject"]) for r in job.out["subjects"]]
        want = reference.subject_year_rows(
            job.out["vertices"].toPandas(), e, self.WALK)
        job.check("subjects", len(got) == len(set(got)) and set(got) == want,
                  f"{len(got)} (year, subject) rows (want {len(want)})")
        tri = reference.triangles(src.tolist(), dst.tolist())
        job.check("triangles", job.out["triangles"] == tri,
                  f"{job.out['triangles']} triangles (want {tri})")
        for name, steps, start in (
            ("pagerank_first", self.PR_FIRST, 1),
            ("pagerank_resume", self.PR_TOTAL, self.PR_FIRST + 1),
        ):
            ranks, it, first = job.out[name]
            job.check(name, (it, first) == (steps, start),
                      f"{it} supersteps from {first} (want {steps} from {start})")
            job.check(name, _same_ranks(ranks, reference.pagerank(src, dst, steps)),
                      "ranks differ from the reference")


WORKLOADS = {"superstep": Superstep(), "codegraph": Codegraph()}
