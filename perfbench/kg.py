"""The two pipeline workloads: ``kg_decode`` and ``kg_vocab``.

One closed-loop client drives ``kgflow.pipeline.run_pipeline`` over a
stored corpus: each cold run starts from an empty run directory, each
resume run re-uses a finished one after the ``canonical_map``, ``nodes``
and ``edges`` manifests are removed.  Correctness is scored with DuckDB
on the written stage tables, outside every timed window.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb

import kgcorpus
import procs
from spans import Tracer

SIZES = {
    "kg_decode": dict(kind="decode", n_files=20000, filler_lines=(36, 144)),
    "kg_vocab": dict(kind="vocab", n_files=1000, n_bases=10000, decls_per_file=24),
}
RESUMED = ("canonical_map", "nodes", "edges")
# stage table -> the layer whose work its write carries
STAGE_LAYER = {
    "ingested": "ingest", "triples": "extract", "alias_edges": "link",
    "canonical_map": "canonicalize", "nodes": "materialize", "edges": "materialize",
}
MIN_PR = 0.95
MIN_COVERAGE = 0.9


def prepare(workload: str, seed: int, cache_root: str) -> dict:
    """Corpus + golden for (workload, seed), generated once and cached."""
    return kgcorpus.cached(workload, seed, cache_root, SIZES[workload])


class Workload:
    def __init__(self, workload: str, spark, inputs: dict, work_dir: str, ledger):
        self.name = workload
        self.spark = spark
        self.inputs = inputs
        self.work_dir = work_dir
        self.ledger = ledger
        self.source = spark.read.parquet(inputs["corpus"])
        self.fp = f"{workload}:{inputs['corpus_digest']}"
        self.run_dir = os.path.join(work_dir, "run")
        self.cold_walls: list[float] = []
        self.cold_cpus: list[float] = []
        self.warm_walls: list[float] = []
        self.resume_walls: list[float] = []
        self.triples = 0
        self.cmap_digests: set[str] = set()

    # -- timed operations ---------------------------------------------------
    def setup(self) -> float:
        return 0.0  # the corpus is stored; nothing to build before a run

    def measure(self, seconds: float) -> None:
        """The first run in this JVM from an empty run directory (the
        cold run a CLI user pays for), then warm runs until ``seconds``
        have passed since it started."""
        deadline = time.monotonic() + seconds
        cpu0 = procs.tree_cpu_s()
        self.cold_walls.append(self.fresh_run("pipeline run"))
        self.cold_cpus.append(procs.tree_cpu_s() - cpu0)
        while time.monotonic() < deadline:
            self.warm_walls.append(self.fresh_run("warm pipeline run"))

    def samples(self) -> dict:
        return {"cold_s": self.cold_walls, "cold_cpu_s": self.cold_cpus,
                "warm_s": self.warm_walls,
                "resume_s": self.resume_walls, "triples": self.triples}

    def _pipeline(self):
        from kgflow.pipeline import run_pipeline

        return run_pipeline(self.spark, self.source, self.run_dir,
                            corpus_fingerprint=self.fp)

    def fresh_run(self, label: str) -> "float | None":
        """One run from an empty run directory; None if it failed."""
        shutil.rmtree(self.run_dir, ignore_errors=True)
        t0 = time.monotonic()
        report = self.ledger.attempt(label, self._pipeline)
        wall = time.monotonic() - t0
        if report is None:
            return None
        self.triples = report.triples_emitted
        self.check_outputs()
        return wall

    def resume(self) -> "float | None":
        """Re-run the last run after the manifests of ``RESUMED`` are
        removed; the other stages must be skipped."""
        for stage in RESUMED:
            path = os.path.join(self.run_dir, stage, "_MANIFEST.json")
            if os.path.exists(path):
                os.remove(path)
        t0 = time.monotonic()
        report = self.ledger.attempt("resume run", self._pipeline)
        wall = time.monotonic() - t0
        if report is None:
            return None
        skipped = set(report.skipped_stages())
        self.ledger.check("resume skips completed stages",
                          skipped == set(STAGE_LAYER) - set(RESUMED),
                          f"skipped={sorted(skipped)}")
        self.resume_walls.append(wall)
        self.check_outputs()
        return wall

    # -- correctness (untimed) ----------------------------------------------
    def check_outputs(self) -> None:
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        trip = f"read_parquet('{self.run_dir}/triples/data/*.parquet')"
        gold = f"read_parquet('{self.inputs['golden']}')"
        if self.inputs.get("corrupt") == "golden":
            # every tenth expected triple altered: P and R fall near 0.9
            gold = (f"(SELECT subj, pred, CASE WHEN hash(subj, obj) % 10 = 0 "
                    f"THEN obj || '~' ELSE obj END AS obj FROM {gold})")
        got, want, hit = con.execute(f"""
            WITH p AS (SELECT DISTINCT subj, pred, obj FROM {trip}),
                 g AS (SELECT DISTINCT subj, pred, obj FROM {gold})
            SELECT (SELECT count(*) FROM p), (SELECT count(*) FROM g),
                   (SELECT count(*) FROM p JOIN g USING (subj, pred, obj))
        """).fetchone()
        precision = hit / got if got else 0.0
        recall = hit / want if want else 0.0
        self.ledger.check("triple precision", precision >= MIN_PR, f"P={precision:.4f}")
        self.ledger.check("triple recall", recall >= MIN_PR, f"R={recall:.4f}")
        if self.name != "kg_vocab":
            return
        cmap = f"read_parquet('{self.run_dir}/canonical_map/data/*.parquet')"
        split = con.execute(f"""
            WITH s AS (SELECT DISTINCT obj AS sym FROM {trip} WHERE pred = 'DECLARES'),
                 m AS (SELECT lower(regexp_replace(sym, '[_\\-.]', '', 'g')) AS norm,
                              coalesce(c.canonical, sym) AS canonical
                       FROM s LEFT JOIN {cmap} c ON c.member = s.sym)
            SELECT count(*) FROM (SELECT norm FROM m GROUP BY norm
                                  HAVING count(DISTINCT canonical) > 1)
        """).fetchone()[0]
        self.ledger.check("norm-equal aliases share one canonical id", split == 0,
                          f"{split} split norm groups")
        digest = con.execute(f"""
            SELECT md5(string_agg(member || chr(9) || canonical, chr(10)
                                  ORDER BY member)) FROM {cmap}
        """).fetchone()[0]
        # same seed, same map: within this process and against the
        # digest the first process on this corpus recorded
        recorded = os.path.join(self.inputs["dir"], "canonical_map.md5")
        if not os.path.exists(recorded):
            with open(recorded, "w") as fh:
                fh.write(digest)
        with open(recorded) as fh:
            self.cmap_digests.update([digest, fh.read().strip()])
        self.ledger.check("canonical_map digest stable across runs",
                          len(self.cmap_digests) == 1, f"{len(self.cmap_digests)} digests")

    # -- metrics --------------------------------------------------------------
    def end_to_end(self) -> dict:
        walls = [w for w in self.cold_walls if w is not None]
        if not walls:
            return {}
        return {"cpu_s": self.cold_cpus[0], "wall_s": walls[0],
                "rows_per_s": self.triples / walls[0]}

    def traced_run(self) -> dict:
        """A resume of the measured run, a warm untraced run, then a
        warm run with a span around every call into a stage module;
        returns the per-layer metrics, with the tracing overhead as the
        difference of the two warm walls."""
        import kgflow.lineage as lineage
        import kgflow.pipeline as pipeline

        resume = self.resume()
        untraced = self.fresh_run("warm pipeline run")
        tracer = Tracer(self.spark)
        layer_of = {
            "ingest_manifest": "ingest", "extract_with_manifest": "extract",
            "link": "link", "canonical_map": "canonicalize",
            "materialize": "materialize", "assert_unique_ids": "validate",
            "assert_edge_endpoints": "validate",
        }
        targets = [(pipeline, fn, layer, None) for fn, layer in layer_of.items()]
        stage_name = lambda args, kw: f"write_stage[{args[1]}]"  # noqa: E731
        targets.append((lineage, "write_stage", "lineage", stage_name))
        with tracer.patched(targets):
            wall = self.fresh_run("traced pipeline run")
        if wall is None or untraced is None:
            return {}
        tracer.collect()
        out = layer_metrics(tracer, wall, self.run_dir)
        out["trace.overhead_s"] = wall - untraced
        out["resume_s"] = resume or 0.0
        self.ledger.check("spans cover >= 90% of the traced run",
                          out["trace.coverage"] >= MIN_COVERAGE,
                          f"coverage {out['trace.coverage']:.3f}")
        return out


def _sum(stages, key):
    return sum(s[key] for s in stages)


def _skew(stages) -> float:
    """max/median task time of the layer's busiest multi-task stage."""
    multi = [s for s in stages if s["tasks"] > 1 and s["task_med_ms"] > 0]
    if not multi:
        return 1.0
    top = max(multi, key=lambda s: s["run_ms"])
    return top["task_max_ms"] / top["task_med_ms"]


def _scan_bytes(sps) -> float:
    """File bytes the layer's scans read (the scan operators' 'size of
    files read'; the stage-level inputBytes counter misses parquet's
    vectored reads)."""
    return sum(v for sp in sps for name, _, metric, v in sp.operators
               if metric == "size of files read")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def layer_metrics(tracer: Tracer, wall: float, run_dir: str) -> dict:
    # a write_stage span belongs to the layer whose table it writes
    by_layer: dict[str, list] = {}
    for sp in tracer.spans:
        layer = sp.layer
        if sp.name.startswith("write_stage["):
            layer = STAGE_LAYER[sp.name[len("write_stage["):-1]]
        by_layer.setdefault(layer, []).append(sp)

    def spans(layer, name=None):
        return [s for s in by_layer.get(layer, []) if name is None or s.name == name]

    def busy(sps):
        return sum(s.wall for s in sps)

    def stages(sps):
        return [st for s in sps for st in s.stages]

    out: dict[str, float] = {}
    for layer in ("ingest", "extract"):
        st = stages(spans(layer))
        out[f"{layer}.busy_s"] = busy(spans(layer))
        out[f"{layer}.input_bytes"] = _scan_bytes(spans(layer))
        out[f"{layer}.cpu_s"] = _sum(st, "cpu_ns") / 1e9
    out["extract.shuffle_bytes"] = _sum(stages(spans("extract")), "shuffle_write")
    out["extract.rows_out"] = _written_rows(run_dir, "triples")
    link_build = spans("link", "link")
    link_write = spans("link", "write_stage[alias_edges]")
    out["link.build_s"] = busy(link_build)
    out["link.busy_s"] = busy(link_write)
    out["link.shuffle_bytes"] = _sum(stages(spans("link")), "shuffle_write")
    out["link.task_skew"] = _skew(stages(spans("link")))
    out["link.pair_yield"] = _pair_yield(link_write, _written_rows(run_dir, "alias_edges"))
    canon = spans("canonicalize")
    out["canonicalize.busy_s"] = busy(canon)
    out["canonicalize.jobs"] = sum(len(s.jobs) for s in canon)
    out["canonicalize.shuffle_bytes"] = _sum(stages(canon), "shuffle_write")
    mat = spans("materialize")
    out["materialize.busy_s"] = busy(mat)
    out["materialize.shuffle_bytes"] = _sum(stages(mat), "shuffle_write")
    out["materialize.task_skew"] = _skew(stages(mat))
    out["materialize.spill_bytes"] = _sum(stages(mat), "spill")
    # the two probes run concurrently: busy time is their union
    val = spans("validate")
    out["validate.busy_s"] = (max(s.end for s in val) - min(s.start for s in val)) if val else 0.0
    out["lineage.bytes_written"] = _dir_bytes(run_dir)
    every = stages(tracer.spans)
    out["spark.gc_s"] = _sum(every, "gc_ms") / 1000.0
    out["spark.failed_tasks"] = _sum(every, "failed_tasks")
    covered = busy([s for s in tracer.spans if s.layer != "validate"]) + out["validate.busy_s"]
    out["trace.coverage"] = covered / wall
    out["trace.wall_s"] = wall
    out["share.decode"] = (out["ingest.busy_s"] + out["extract.busy_s"]) / wall
    out["share.alias"] = (out["link.busy_s"] + out["link.build_s"]
                          + out["canonicalize.busy_s"]) / wall
    return out


def _written_rows(run_dir: str, stage: str) -> int:
    import json

    with open(os.path.join(run_dir, stage, "_MANIFEST.json")) as fh:
        return json.load(fh)["row_count"]


def _pair_yield(write_spans, alias_edges: int) -> float:
    """alias edges / in-bucket candidate pairs, where the candidates are
    the output rows of the LSH self-join on (band, key): the largest
    (band, key) equi-join in the alias_edges write."""
    joins = [rows for sp in write_spans for name, desc, metric, rows in sp.operators
             if metric == "number of output rows"
             and "Join" in name and "band" in desc and "key" in desc]
    return alias_edges / max(joins) if joins and max(joins) else 0.0
