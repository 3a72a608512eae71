"""The ``query_mix`` workload: 8 of the 31 timed analytics rows of
``bench.py``, at least one per analytics layer.

One closed-loop client runs the rows one at a time, in an order drawn
from the seed, over seeded TPC-H-ish tables (perfbench/tables.py).  Seven
rows come from ``kgflow.analytics.registry.QUERIES``; the eighth probes
the at-rest IVF-PQ index that set-up writes, the workload's write path.
Every row's result is collected to the client.  The other 23 rows, and
the at-rest LSH and IVF indexes, are left out so that a run, JVM start
included, stays under a minute on four shared cores: the full 31-row
pass took 55 s cold there, and the three index builds 20 s.

Correctness, untimed: DuckDB oracle parity for the six oracle-backed
rows of the mix, on the mix's own results (the repository's oracle
parity tests cover the other 42 oracle-backed registry rows); pair
invariants and a per-seed pinned row count for the rows-only
``dedup_minhash_lsh``; and the at-rest probe equal to the same probe
over the index built in memory.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os
import random
import shutil
import time

import duckdb

import procs
import tables
from spans import Tracer

SCALE = 0.005  # 30k lineitem rows
MIX = [
    "pricing_summary", "copurchase_recommendations", "combined_recommendations",
    "graph_edges_per_type", "graph_enrich_customer_props", "dedup_minhash_lsh",
    "ann_ivfpq_probe_at_rest", "langid_predict",
]
PROBE = "ann_ivfpq_probe_at_rest"
TEXT = ("langid_predict",)
GRAPH = ("graph_edges_per_type", "graph_enrich_customer_props")
K = 5
N_QUERIES = 5  # ANN query vectors: vec_id < 5, as in the registry's ANN rows


def layer_of(name: str) -> str:
    from kgflow.analytics import relational

    if name in GRAPH:
        return "graph"
    if name in TEXT:
        return "text"
    if name.startswith("dedup_"):
        return "dedup"
    if name.startswith("ann_"):
        return "similarity"
    if name in relational.QUERIES:
        return "relational"
    raise KeyError(name)


def prepare(workload: str, seed: int, cache_root: str) -> dict:
    """Tables for ``seed``, generated once and cached (one seed kept)."""
    out_dir = os.path.join(cache_root, f"{workload}-{seed}-{SCALE}")
    summary = os.path.join(out_dir, "summary.json")
    if not os.path.exists(summary):
        for old in os.listdir(cache_root):
            if old.startswith(f"{workload}-"):
                shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
        rows = tables.write(seed, SCALE, os.path.join(out_dir, "tables"))
        with open(summary + ".tmp", "w") as fh:
            json.dump({"scale": SCALE, **{f"rows.{k}": v for k, v in rows.items()}}, fh)
        os.replace(summary + ".tmp", summary)
    with open(summary) as fh:
        info = json.load(fh)
    return {**info, "dir": out_dir, "tables": os.path.join(out_dir, "tables"), "seed": seed}


def _norm_cell(v):
    """tests/test_oracle_parity.py's cell normalization."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _spark_rows(rows, cols: list[str]):
    order = sorted(cols)
    return sorted(tuple(_norm_cell(r[c]) for c in order) for r in rows), order


class Workload:
    def __init__(self, workload: str, spark, inputs: dict, work_dir: str, ledger):
        from pyspark.sql import functions as F

        from kgflow.analytics.tables import load

        self.spark = spark
        self.inputs = inputs
        self.sf = inputs["tables"]
        self.work_dir = work_dir
        self.ledger = ledger
        self.order = list(MIX)
        random.Random(inputs["seed"]).shuffle(self.order)
        self.emb = load(spark, self.sf, "embeddings")
        self.dim = int(self.emb.select(F.size("embedding")).first()[0])
        self.queries = self.emb.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        self.index_dir = os.path.join(work_dir, "index")
        self.passes: list[dict] = []  # per pass: name -> seconds
        self.pass_walls: list[float] = []
        self.pass_cpus: list[float] = []
        self.pass_rows: list[int] = []
        self.results: dict = {}  # name -> (rows, columns) from the first pass
        self.index_build_s = 0.0
        self.check_s = 0.0
        self.resume_walls: list[float] = []

    # -- write path ---------------------------------------------------------
    def build_index(self) -> None:
        from kgflow.ops import pq, similarity

        shutil.rmtree(self.index_dir, ignore_errors=True)
        pq.write_ivfpq_index(self.emb, self.index_dir, self.dim,
                             cluster_cap=similarity.DEFAULT_CLUSTER_CAP)

    def setup(self) -> float:
        t0 = time.monotonic()
        self.ledger.attempt("index build", self.build_index)
        self.index_build_s = time.monotonic() - t0
        return self.index_build_s

    # -- one row --------------------------------------------------------------
    def frame(self, name: str):
        from kgflow.analytics.registry import QUERIES
        from kgflow.ops import pq

        if name == PROBE:
            return pq.ivfpq_topk_from_index(self.spark.read.parquet(self.index_dir),
                                            self.queries, self.dim, topk=K)
        return QUERIES[name](self.spark, self.sf)

    def _collect(self, name: str):
        df = self.frame(name)
        return df.collect(), df.columns

    def run_query(self, name: str):
        """Rows and columns of one row of the mix, collected; the row's
        tracked caches are released after it."""
        from kgflow.analytics import relational

        try:
            return self._collect(name)
        finally:
            relational.release_caches()

    # -- timed operations ---------------------------------------------------
    def one_pass(self, keep: bool = False) -> "float | None":
        times, rows_out = {}, 0
        cpu0 = procs.tree_cpu_s()
        t0 = time.monotonic()
        for name in self.order:
            q0 = time.monotonic()
            res = self.ledger.attempt(f"query {name}", lambda n=name: self.run_query(n))
            times[name] = time.monotonic() - q0
            if res is None:
                continue
            rows_out += len(res[0])
            if keep:
                self.results[name] = res
        wall = time.monotonic() - t0
        self.pass_cpus.append(procs.tree_cpu_s() - cpu0)
        self.passes.append(times)
        self.pass_walls.append(wall)
        self.pass_rows.append(rows_out)
        return wall

    def measure(self, seconds: float) -> None:
        """The first pass in this JVM (its results are the ones checked),
        then warm passes until ``seconds`` have passed since it started."""
        deadline = time.monotonic() + seconds
        self.one_pass(keep=True)
        while time.monotonic() < deadline:
            self.one_pass()
        t0 = time.monotonic()
        self.check()
        self.check_s = time.monotonic() - t0

    def resume(self) -> float:
        """Re-read the stored index and probe it again; the rows must not
        change."""
        t0 = time.monotonic()
        res = self.ledger.attempt(f"query {PROBE}", lambda: self.run_query(PROBE))
        wall = time.monotonic() - t0
        self.resume_walls.append(wall)
        if res is not None and PROBE in self.results:
            self.ledger.check(f"{PROBE} on resume", _spark_rows(*res)
                              == _spark_rows(*self.results[PROBE]), "rows differ")
        return wall

    def samples(self) -> dict:
        return {"pass_s": self.pass_walls, "pass_cpu_s": self.pass_cpus,
                "pass_rows": self.pass_rows,
                "index_build_s": self.index_build_s, "resume_s": self.resume_walls,
                "check_s": self.check_s, "order": self.order,
                "first_pass_query_s": self.passes[0] if self.passes else {}}

    def end_to_end(self) -> dict:
        if not self.pass_walls:
            return {}
        return {"cpu_s": self.pass_cpus[0], "wall_s": self.pass_walls[0],
                "rows_per_s": self.pass_rows[0] / self.pass_walls[0]}

    # -- correctness (untimed) ----------------------------------------------
    def check(self) -> None:
        """Oracle parity for every oracle-backed row of the mix, on the
        results of its first pass."""
        from kgflow.analytics.registry import ORACLE_SQL
        from kgflow.analytics.tables import TABLES

        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf}/{t}.parquet')")

        for name in MIX:
            res = self.results.get(name)
            if name not in ORACLE_SQL or res is None:
                continue
            got, got_cols = _spark_rows(*res)
            cur = con.execute(ORACLE_SQL[name])
            cols = [d[0] for d in cur.description]
            ix = sorted(range(len(cols)), key=lambda i: cols[i])
            want = sorted(tuple(_norm_cell(r[i]) for i in ix) for r in cur.fetchall())
            if self.inputs.get("corrupt") == "oracle" and want:
                want = want[1:]  # one expected row lost
            self.ledger.check(f"oracle parity {name}",
                              got_cols == sorted(cols) and got == want,
                              f"{len(got)} rows vs oracle {len(want)}")
        self._check_dedup_pairs(con)
        self._check_probe()

    def _check_dedup_pairs(self, con) -> None:
        """The rows-only dedup row: ordered, distinct, within threshold,
        and the same count every time this seed runs."""
        pinned_path = os.path.join(self.inputs["dir"], "pinned_rows.json")
        pinned = {}
        if os.path.exists(pinned_path):
            with open(pinned_path) as fh:
                pinned = json.load(fh)
        n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        name = "dedup_minhash_lsh"
        res = self.results.get(name)
        if res is not None:
            rows = res[0]
            pairs = [(r["doc_a"], r["doc_b"]) for r in rows]
            self.ledger.check(
                f"{name} pair invariants",
                all(a < b < n_docs for a, b in pairs) and len(set(pairs)) == len(pairs)
                and all(r["jaccard"] >= 0.5 for r in rows),
                f"{len(rows)} pairs")
            pinned.setdefault(name, len(rows))
            self.ledger.check(f"{name} pinned row count", pinned[name] == len(rows),
                              f"{len(rows)} rows vs pinned {pinned[name]}")
        with open(pinned_path + ".tmp", "w") as fh:
            json.dump(pinned, fh)
        os.replace(pinned_path + ".tmp", pinned_path)

    def _check_probe(self) -> None:
        """The at-rest probe returns rows (at most K per query), equal to
        the same probe over the index table built in memory."""
        from kgflow.ops import pq, similarity

        res = self.results.get(PROBE)
        if res is None:
            return

        def in_memory():
            df = pq.ivfpq_topk_from_index(
                pq.ivfpq_index_table(self.emb, self.dim,
                                     cluster_cap=similarity.DEFAULT_CLUSTER_CAP),
                self.queries, self.dim, topk=K)
            return df.collect(), df.columns

        twin = self.ledger.attempt(f"in-memory {PROBE}", in_memory)
        if twin is not None:
            want = _spark_rows(*twin)
            self.ledger.check(f"{PROBE} equals in-memory probe", _spark_rows(*res) == want,
                              f"{len(res[0])} rows vs {len(want[0])}")
        self.ledger.check(f"{PROBE} row count", 0 < len(res[0]) <= N_QUERIES * K,
                          f"{len(res[0])} rows")

    # -- traced pass ----------------------------------------------------------
    def traced_run(self) -> dict:
        """A resume, a warm untraced pass, then a pass with one span per
        row; the pipeline-stage functions are wrapped too, so a row that
        reached into a pipeline stage would show as a span."""
        import kgflow.lineage as lineage
        from kgflow.stages import canonicalize, extract, ingest, link, materialize

        resume = self.resume()
        untraced = self.one_pass()
        tracer = Tracer(self.spark)
        targets = [(mod, fn, "pipeline", None) for mod, fn in (
            (ingest, "ingest"), (ingest, "ingest_manifest"), (extract, "extract"),
            (extract, "extract_with_manifest"), (link, "link"),
            (canonicalize, "canonical_map"), (materialize, "materialize"),
            (lineage, "write_stage"))]
        with tracer.patched(targets):
            t0 = time.monotonic()
            for name in self.order:
                with tracer.span(layer_of(name), name):
                    self.ledger.attempt(f"query {name}", lambda n=name: self.run_query(n))
            wall = time.monotonic() - t0
        tracer.collect()
        out = self.layer_metrics(tracer, wall, untraced)
        out["resume_s"] = resume
        self.ledger.check("no pipeline-stage span in the mix", out["pipeline.spans"] == 0,
                          f"{out['pipeline.spans']} spans")
        return out

    def layer_metrics(self, tracer: Tracer, wall: float, untraced: float) -> dict:
        def spans(layer):
            return [s for s in tracer.spans if s.layer == layer]

        def total(sps, key):
            return sum(st[key] for s in sps for st in s.stages)

        out: dict[str, float] = {}
        for layer in ("relational", "dedup", "similarity", "text", "graph"):
            out[f"{layer}.busy_s"] = sum(s.wall for s in spans(layer))
        out["relational.shuffle_bytes"] = total(spans("relational"), "shuffle_write")
        out["dedup.shuffle_bytes"] = total(spans("dedup"), "shuffle_write")
        for s in tracer.spans:
            if s.name in ("copurchase_recommendations", "combined_recommendations"):
                out[f"query.{s.name}_s"] = s.wall
        out["similarity.index_build_s"] = self.index_build_s
        out["pipeline.spans"] = len(spans("pipeline"))
        every = tracer.spans
        out["spark.gc_s"] = total(every, "gc_ms") / 1000.0
        out["spark.failed_tasks"] = total(every, "failed_tasks")
        out["trace.wall_s"] = wall
        out["trace.overhead_s"] = wall - untraced
        out["trace.coverage"] = sum(s.wall for s in every if s.layer != "pipeline") / wall
        return out
