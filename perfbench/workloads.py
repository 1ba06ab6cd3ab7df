"""The benchmark's workloads: one client, closed loop, on local[nproc].

``kg_build`` (the write side) — one round is one op: a fresh-warehouse
``run_pipeline`` plus ``flagship_query`` over a seeded window of
``datagen`` documents. A traced run adds, after its rounds, the extras:
``pagerank``, ``connected_components`` and a TransE loss probe over the
last build's ``edges``, and one ``dedup_fold`` of new documents into a
deduplicated standing corpus.

``kg_query`` (the read side) — one round is each query of ``QUERIES``
once, in a seed-permuted order, over seeded suite tables.

A workload exposes ``setup()``, ``round(r)`` (timed ops; their output
checks run after the timer stops), ``extras(r)`` (ops a traced run makes
once, after its rounds), ``detail(ops)`` and ``per_layer(ops)``.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from perfbench.inputs import doc_window, write_docs, write_documents, write_suite_tables
from perfbench.procfs import tree_cpu_s
from perfbench.stats import med
from perfbench.trace import Patches, Tracer

# Headline suite queries the read side runs: one per query family of
# bench.HEADLINE (join, fusion, window top-k, vector search, LSH near-dup,
# text fingerprint, BM25, as-of join). The other five headline queries
# repeat a family and do not fit the run budget on a 4-core host.
QUERIES = (
    "j1_provenance_join", "a3_rrf_fusion", "t1_topk_per_group", "ann_ivf_topk",
    "dd_minhash_lsh", "tx_fingerprint", "w2_bm25_topk", "ev_asof_join",
)

# pipeline table -> layer span name
STAGE_LAYER = {
    "alias_dict": "pipeline.alias_dict",
    "chunks": "ingest",
    "triples_raw": "extract",
    "linked_mentions": "link",
    "canonical_map": "canonicalize",
    "nodes": "pipeline.nodes",
    "edges": "pipeline.edges",
}
PIPELINE_LAYERS = ("ingest", "extract", "link", "canonicalize", "pipeline.nodes", "pipeline.edges")


def _per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit. A
    workload reports 0 for the layers it does not run."""
    out = {m: "s" for m in (
        "pipeline.build_s", "ingest.s", "extract.s", "link.s", "canonicalize.s", "pipeline.nodes_s",
        "pipeline.edges_s", "pipeline.alias_dict_s", "pipeline.flagship_s",
        "pipeline.driver_s", "pipeline.overlap_s", "warehouse.commit_s", "warehouse.read_s")}
    out.update({"warehouse.bytes_written": "bytes", "warehouse.files_written": "count",
                "warehouse.manifest_bytes": "bytes"})
    out.update({m: "count" for m in (
        "ingest.rows", "extract.rows", "extract.quarantined", "link.rows",
        "canonicalize.rows", "pipeline.nodes_rows", "pipeline.edges_rows")})
    for layer in PIPELINE_LAYERS:
        out.update({f"{layer}.cpu_s": "s", f"{layer}.busy_frac": "ratio",
                    f"{layer}.shuffle_bytes": "bytes", f"{layer}.spill_bytes": "bytes",
                    f"{layer}.skew": "ratio"})
        if layer in ("ingest", "extract"):
            out.update({f"{layer}.python_s": "s", f"{layer}.arrow_bytes": "bytes"})
    out.update({m: "s" for m in ("graph.pagerank_s", "graph.components_s", "kgtrain.transe_s",
                                 "dedup.fold_s", "dedup.components_s")})
    out.update({"dedup.admitted": "count", "dedup.dropped": "count"})
    out.update({f"suite.{q}_s": "s" for q in QUERIES})
    out["trace.overhead_frac"] = "ratio"
    return out


PER_LAYER_METRICS = _per_layer_metrics()


@dataclass
class Op:
    op: int
    kind: str
    wall: float
    ok: bool = True
    name: str = ""
    round: int = 0
    cpu: float = 0.0
    error: str | None = None


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int


def instrument(tracer: Tracer) -> Patches:
    """Install span wrappers around the layer calls the workloads make."""
    from chatvector_ai_spark import pipeline
    from chatvector_ai_spark.operators import dedup
    from chatvector_ai_spark.warehouse import Warehouse

    p = Patches()

    def stage_name(wh, spark, run, table, *a, **k):
        return STAGE_LAYER.get(table)

    # a stage's layer wall = its eager operator call + Warehouse.commit
    # (+ read-back): the operators return lazy DataFrames, so the call
    # alone would time nothing
    p.swap(pipeline, "_stage", lambda f: tracer.wrap(f, "", layer=True, name_of=stage_name))
    p.swap(dedup, "connected_components", lambda f: tracer.wrap(f, "dedup.components"))
    p.swap(Warehouse, "read", lambda f: tracer.wrap(f, "warehouse.read"))

    def wrap_commit(commit):
        def traced_commit(self, df, table, **kwargs):
            with tracer.span("warehouse.commit"):
                snap = commit(self, df, table, **kwargs)
            if tracer.enabled:
                n_files = n_bytes = 0
                for base, _, files in os.walk(os.path.join(self.root, table, snap)):
                    for name in files:
                        if name.endswith(".parquet"):
                            n_files += 1
                            n_bytes += os.path.getsize(os.path.join(base, name))
                tracer.count("warehouse.files_written", n_files)
                tracer.count("warehouse.bytes_written", n_bytes)
            return snap
        return traced_commit

    p.swap(Warehouse, "commit", wrap_commit)
    return p


class _Ops:
    """Op ids and timing shared by the workloads."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.next_op = 0

    def timed(self, kind: str, name: str, r: int, fn, *, layer: bool = True) -> tuple[Op, object]:
        """Run ``fn`` as one op inside a span named ``name``; an exception
        fails the op (and is kept as its error) without ending the run."""
        tracer = self.ctx.tracer
        op = Op(self.next_op, kind, 0.0, name=name, round=r)
        self.next_op += 1
        out = None
        cpu0 = tree_cpu_s()
        with tracer.op_span(op.op):
            t0 = time.perf_counter()
            try:
                with tracer.span(name, layer=layer):
                    out = fn()
            except Exception:  # the op failed: count it, keep measuring
                op.ok, op.error = False, traceback.format_exc()
            op.wall = time.perf_counter() - t0
        op.cpu = tree_cpu_s() - cpu0
        return op, out


def best_round(ops: list[Op], field: str = "wall") -> float:
    """One round's ``wall`` or ``cpu``, best of the run's rounds op by op:
    per op name the least value, summed over the names (bench.py's
    min-of-3, per op). It drops the first, still-warming round and an op
    a busy neighbour slowed, since such noise only ever adds time. Failed
    ops count (a run with a failed op reports correct=false whatever its
    times)."""
    by_name: dict[str, float] = {}
    for o in ops:
        v = getattr(o, field)
        by_name[o.name] = min(by_name.get(o.name, v), v)
    return sum(by_name.values())


# --------------------------------------------------------------------------
# kg_build
# --------------------------------------------------------------------------


class DedupChain:
    """A deduplicated standing corpus that new documents fold into: base
    ``dedup_corpus`` in setup, then one ``dedup_fold`` of the next
    ``fold_docs`` ids per call, the admitted docs appended to the corpus."""

    base_docs = 1200
    fold_docs = 200
    n_docs = base_docs + fold_docs  # a traced run folds once

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "corpus")
        self.next_slice = 0
        self.kept_dir = ""
        self.counts: list[dict[str, int]] = []

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from chatvector_ai_spark.operators.dedup import dedup_corpus

        write_documents(self.dir, self.ctx.seed, self.n_docs)
        self.docs = self.ctx.spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        kept, _ = dedup_corpus(self.ctx.spark, self.docs.where(F.col("doc_id") < self.base_docs))
        self._store(kept)

    def _store(self, df) -> None:
        path = os.path.join(self.ctx.work, f"kept-{self.next_slice}")
        df.write.parquet(path)
        self.kept_dir = path

    def inputs(self):
        """(new docs, kept corpus) of the next fold in the chain."""
        from pyspark.sql import functions as F

        lo = self.base_docs + self.next_slice * self.fold_docs
        if lo + self.fold_docs > self.n_docs:
            raise RuntimeError("dedup fold chain ran out of new documents")
        self.next_slice += 1
        new = self.docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + self.fold_docs))
        return new, self.ctx.spark.read.parquet(self.kept_dir)

    def fold(self, new, kept) -> tuple[list[int], dict]:
        """dedup_fold of ``new`` into ``kept``: (admitted doc ids, report)."""
        from chatvector_ai_spark.operators.dedup import dedup_fold

        admitted, report = dedup_fold(self.ctx.spark, kept, new)
        return [row[0] for row in admitted.select("doc_id").collect()], report

    def append(self, kept, ids: list[int]) -> None:
        """Append the admitted docs to the corpus (the caller's step after
        dedup_fold, outside the timed op)."""
        from pyspark.sql import functions as F

        rows = self.docs.where(F.col("doc_id").isin(ids)).select(*kept.columns)
        self._store(kept.unionByName(rows))

    def check(self, ids: list[int], report: dict) -> str | None:
        self.counts.append({"dedup.admitted": len(ids), "dedup.dropped": self.fold_docs - len(ids)})
        if report["n_admitted"] != len(ids) or report["n_new"] != self.fold_docs:
            return f"dedup_fold report {report} disagrees with {len(ids)} admitted ids"
        return None

    def idempotent(self) -> str | None:
        """No verified near-dup pair may remain in kept ∪ admitted."""
        from chatvector_ai_spark.operators.dedup import near_dup_pairs

        left = near_dup_pairs(self.ctx.spark, self.ctx.spark.read.parquet(self.kept_dir)).count()
        return f"{left} near-dup pairs left after the fold chain" if left else None


class KgBuild:
    name = "kg_build"
    min_rounds = 4
    n_docs = 1000
    n_entities = 1000
    min_pr = 0.95

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.ops = _Ops(ctx)
        self.docs_dir = os.path.join(ctx.work, "docs")
        self.lo, self.hi = doc_window(ctx.seed, self.n_docs)
        self.dedup = DedupChain(ctx)
        self.last = None  # (warehouse, input key) of the latest good build
        self._accept = None
        self.quality: list[tuple[float, float]] = []
        self.rows: list[dict[str, float]] = []

    def setup(self) -> None:
        # as many files as bench.py's documents table: the scan, and the
        # Arrow-UDF stages after it, run as that many tasks
        write_docs(self.docs_dir, self.lo, self.hi, self.n_entities,
                   n_files=max(self.ctx.spark.sparkContext.defaultParallelism, 8))
        # warm-up: one untimed build, so Python-worker start-up and the
        # coldest JIT compilation land in setup_s
        wh, _ = self._build("warmup")
        shutil.rmtree(wh.root, ignore_errors=True)

    def _build(self, tag: str):
        from chatvector_ai_spark.pipeline import flagship_query, run_pipeline
        from chatvector_ai_spark.warehouse import Warehouse

        spark, tracer = self.ctx.spark, self.ctx.tracer
        wh = Warehouse(os.path.join(self.ctx.work, f"wh-{tag}"))
        run = run_pipeline(spark, wh, docs_path=self.docs_dir,
                           n_entities=self.n_entities, resume=False)
        with tracer.span("pipeline.flagship", layer=True):
            top = flagship_query(spark, wh, run.input_key).collect()
        if len(top) != 10:
            raise AssertionError(f"flagship_query returned {len(top)} rows, want 10")
        return wh, run.input_key

    def _analytics(self, edges) -> None:
        from chatvector_ai_spark.operators.graph import connected_components, pagerank
        from chatvector_ai_spark.operators.kgtrain import (
            init_entity_embeddings, init_relation_embeddings, transe_loss_with,
        )

        tracer = self.ctx.tracer
        with tracer.span("graph.pagerank", layer=True):
            pagerank(edges).collect()
        with tracer.span("graph.components", layer=True):
            connected_components(edges).collect()
        with tracer.span("kgtrain.transe", layer=True):
            # the bench.py probe: materialized hash-init embeddings, then
            # the margin loss through equi-joins
            ent = init_entity_embeddings(edges, dim=8).localCheckpoint(eager=True)
            rel = init_relation_embeddings(edges, dim=8).localCheckpoint(eager=True)
            transe_loss_with(edges, ent, rel, n_neg=1).collect()

    def round(self, r: int) -> list[Op]:
        # the build op's span is the pipeline's envelope, not a layer: its
        # time outside every stage span is pipeline.driver_s
        build, built = self.ops.timed("build", "pipeline.build", r,
                                      lambda: self._build(str(r)), layer=False)
        if build.ok:
            wh, key = built
            # output checks, outside the timed op
            precision, recall = self._precision_recall(wh, key)
            self.quality.append((precision, recall))
            if min(precision, recall) < self.min_pr:
                build.ok = False
                build.error = f"triple precision {precision:.4f} / recall {recall:.4f} < {self.min_pr}"
            if self.ctx.tracer.enabled:
                self._record_rows(wh, key)
            if self.last is not None:
                shutil.rmtree(self.last[0].root, ignore_errors=True)
            self.last = (wh, key)
        return [build]

    def extras(self, r: int) -> list[Op]:
        """The analytics over the last build's edges, then one dedup fold
        into a standing corpus (its base ``dedup_corpus`` untimed), each
        once: ~6 s ops a run has no time to repeat, so they give per-layer
        numbers only."""
        ops = []
        if self.last is not None:
            wh, key = self.last
            analytics, _ = self.ops.timed(
                "analytics", "analytics", r,
                lambda: self._analytics(wh.read(self.ctx.spark, "edges", key)))
            ops.append(analytics)
        self.dedup.setup()
        new, kept = self.dedup.inputs()
        fold, out = self.ops.timed("dedup_fold", "dedup.fold", r,
                                   lambda: self.dedup.fold(new, kept))
        if fold.ok:
            ids, report = out
            fold.error = self.dedup.check(ids, report)
            if fold.error is None:
                self.dedup.append(kept, ids)
                fold.error = self.dedup.idempotent()
            fold.ok = fold.error is None
        return ops + [fold]

    def _record_rows(self, wh, key: str) -> None:
        entry = {t: wh.latest_entry(t, key) for t in STAGE_LAYER}
        ok_rows = {"ok=0": 0, "ok=1": 0}
        for part in entry["triples_raw"]["partitions"]:
            flag = part["partition"].split("/")[0]
            ok_rows[flag] = ok_rows.get(flag, 0) + part["rows"]
        manifest = os.path.join(wh.root, "_manifest")
        self.rows.append({
            "ingest.rows": entry["chunks"]["row_count"],
            "extract.rows": ok_rows["ok=1"],
            "extract.quarantined": ok_rows["ok=0"],
            "link.rows": entry["linked_mentions"]["row_count"],
            "canonicalize.rows": entry["canonical_map"]["row_count"],
            "pipeline.nodes_rows": entry["nodes"]["row_count"],
            "pipeline.edges_rows": entry["edges"]["row_count"],
            "warehouse.manifest_bytes": sum(
                os.path.getsize(os.path.join(manifest, f)) for f in os.listdir(manifest)),
        })

    def _acceptable(self):
        """Per doc id: the expected facts, each as the set of (src, rel,
        dst) edges that would realise it (a surface may link to any entity
        carrying that alias; entities resolve to their component
        representative) — the method of tests/test_end_to_end_graph.py."""
        if self._accept is not None:
            return self._accept
        from chatvector_ai_spark import datagen as dg

        parent: dict[str, str] = {}

        def find(x: str) -> str:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        by_alias: dict[str, list[str]] = {}
        for row in dg.alias_rows(self.n_entities):
            by_alias.setdefault(row["alias"], []).append(row["entity_id"])
            find(row["entity_id"])
        for ents in by_alias.values():
            for other in ents[1:]:
                ra, rb = find(ents[0]), find(other)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        reps = {a: {find(e) for e in ents} for a, ents in by_alias.items()}
        accept: dict[str, list[set[tuple[str, str, str]]]] = {}
        for d in range(self.lo, self.hi):
            accept[dg.doc_id_of(d)] = [
                {(s, pred, o) for s in reps.get(subj.lower(), ()) for o in reps.get(obj.lower(), ())}
                for subj, pred, obj in dg.expected_triples(d, n_entities=self.n_entities)
            ]
        self._accept = accept
        return accept

    def _precision_recall(self, wh, key: str) -> tuple[float, float]:
        """Edge precision (edges that realise an expected fact of their
        doc) and fact recall (expected facts realised by some edge)."""
        rows = wh.read(self.ctx.spark, "edges", key).select("doc_id", "src", "rel", "dst").collect()
        accept = self._acceptable()
        got: dict[str, set[tuple[str, str, str]]] = {}
        for doc_id, s, rel, d in rows:
            got.setdefault(doc_id, set()).add((s, rel, d))
        n_facts = sum(len(f) for f in accept.values())
        found = sum(1 for doc, facts in accept.items() for f in facts if f & got.get(doc, set()))
        true_edges = sum(
            1 for doc_id, s, rel, d in rows
            if any((s, rel, d) in f for f in accept.get(doc_id, ())))
        return true_edges / max(len(rows), 1), found / max(n_facts, 1)

    def detail(self, ops: list[Op]) -> dict:
        def walls(kind):
            return [o.wall for o in ops if o.kind == kind and o.ok]

        build, analytics, folds = walls("build"), walls("analytics"), walls("dedup_fold")
        return {
            "build_docs_per_s": {"value": self.n_docs * len(build) / sum(build) if build else None,
                                 "unit": "docs/s"},
            "analytics_s": {"value": med(analytics) if analytics else None, "unit": "s"},
            "dedup_fold_docs_per_s": {
                "value": DedupChain.fold_docs * len(folds) / sum(folds) if folds else None,
                "unit": "docs/s"},
            "docs_per_build": self.n_docs, "doc_window": [self.lo, self.hi],
            "docs_per_fold": DedupChain.fold_docs,
            "triple_precision_recall": self.quality,
            "dedup_folds": self.dedup.counts,
        }

    def per_layer(self, ops: list[Op]) -> dict[str, float]:
        t = self.ctx.tracer

        def summaries(kind):
            return [t.op_summary(o.op) for o in ops if o.kind == kind and o.ok]

        out: dict[str, float] = {}
        builds = summaries("build")
        for metric, span in (
            ("ingest.s", "ingest"), ("extract.s", "extract"), ("link.s", "link"),
            ("canonicalize.s", "canonicalize"),
            ("pipeline.nodes_s", "pipeline.nodes"), ("pipeline.edges_s", "pipeline.edges"),
            ("pipeline.alias_dict_s", "pipeline.alias_dict"),
            ("pipeline.flagship_s", "pipeline.flagship"), ("pipeline.build_s", "op"),
            ("pipeline.driver_s", "driver"), ("pipeline.overlap_s", "overlap"),
            ("warehouse.commit_s", "warehouse.commit"), ("warehouse.read_s", "warehouse.read"),
        ):
            out[metric] = med([s.get(span, 0.0) for s in builds])
        analytics = summaries("analytics")
        for metric, span in (("graph.pagerank_s", "graph.pagerank"),
                             ("graph.components_s", "graph.components"),
                             ("kgtrain.transe_s", "kgtrain.transe")):
            out[metric] = med([s.get(span, 0.0) for s in analytics])
        folds = summaries("dedup_fold")
        out["dedup.fold_s"] = med([s.get("op", 0.0) for s in folds])
        out["dedup.components_s"] = med([s.get("dedup.components", 0.0) for s in folds])
        for metric in ("dedup.admitted", "dedup.dropped"):
            out[metric] = med([c[metric] for c in self.dedup.counts])
        built = [o for o in ops if o.kind == "build" and o.ok]
        for metric in ("warehouse.bytes_written", "warehouse.files_written"):
            out[metric] = med([t.counts[o.op].get(metric, 0.0) for o in built])
        for metric in ("ingest.rows", "extract.rows", "extract.quarantined", "link.rows",
                       "canonicalize.rows", "pipeline.nodes_rows", "pipeline.edges_rows",
                       "warehouse.manifest_bytes"):
            out[metric] = med([r[metric] for r in self.rows])
        return out


# --------------------------------------------------------------------------
# kg_query
# --------------------------------------------------------------------------


class KgQuery:
    name = "kg_query"
    min_rounds = 2
    # scale factor of the seeded suite tables (the shapes of the suite's
    # sf0.1 tables; see inputs.write_suite_tables and the README)
    sf = 0.03

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.ops = _Ops(ctx)
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.order = list(QUERIES)
        random.Random(ctx.seed).shuffle(self.order)
        self._oracle: dict[str, tuple[list, list[str]]] = {}
        self._duck = None

    def setup(self) -> None:
        from chatvector_ai_spark.suite import all_queries

        spark = self.ctx.spark
        write_suite_tables(self.sf_dir, self.ctx.seed, self.sf)
        queries = all_queries()
        self.queries = {q: queries[q] for q in QUERIES}
        # Warm-up: every query once, four at a time (on 4 vCPUs about a
        # third faster than one after another), so plan code generation,
        # Python-worker start-up and the coldest JIT compilation land in
        # setup_s; the rounds after it run one query at a time.
        with ThreadPoolExecutor(max_workers=4) as ex:
            for f in [ex.submit(lambda q=q: self.queries[q](spark, self.sf_dir).collect())
                      for q in QUERIES]:
                f.result()

    def round(self, r: int) -> list[Op]:
        spark = self.ctx.spark
        ops = []
        for q in self.order:
            def run(q=q):
                df = self.queries[q](spark, self.sf_dir)
                return [tuple(row) for row in df.collect()], df.columns
            op, out = self.ops.timed("query", f"suite.{q}", r, run)
            if op.ok:  # output check, outside the timed op
                op.error = self._check(q, *out)
                op.ok = op.error is None
            ops.append(op)
        return ops

    def _check(self, q: str, rows: list[tuple], cols: list[str]) -> str | None:
        """Compare with the query's DuckDB twin the way tools/check_oracle.py
        does: same column set, same row count, equal canonical multisets."""
        from tools.check_oracle import canon

        if q not in self._oracle:
            import duckdb

            from chatvector_ai_spark.suite import TABLES, all_oracles

            if self._duck is None:
                self._duck = duckdb.connect()
                for t in TABLES:
                    self._duck.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            rel = self._duck.sql(all_oracles()[q])
            dcols = [d[0] for d in rel.description]
            self._oracle[q] = (canon([tuple(r) for r in rel.fetchall()], dcols), dcols)
        want, dcols = self._oracle[q]
        if sorted(cols) != sorted(dcols):
            return f"{q}: columns {sorted(cols)} vs DuckDB {sorted(dcols)}"
        if len(rows) != len(want):
            return f"{q}: {len(rows)} rows vs DuckDB {len(want)}"
        if canon(rows, cols) != want:
            return f"{q}: values differ from the DuckDB twin"
        return None

    def extras(self, r: int) -> list[Op]:
        return []

    def detail(self, ops: list[Op]) -> dict:
        walls = [o.wall for o in ops if o.ok]
        return {
            "queries_per_s": {"value": len(walls) / sum(walls) if walls else None, "unit": "1/s"},
            "query_p50_s": {"value": med(walls), "unit": "s"},
            "suite_sf": self.sf,
            "query_order": self.order,
        }

    def per_layer(self, ops: list[Op]) -> dict[str, float]:
        return {f"suite.{q}_s": med([o.wall for o in ops if o.name == f"suite.{q}" and o.ok])
                for q in QUERIES}


WORKLOADS = {w.name: w for w in (KgBuild, KgQuery)}
