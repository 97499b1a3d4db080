"""The workloads: how each loads its inputs, runs its timed operations through
the engine's public entry points, replays the same work layer by layer under
spans, and checks its outputs and its shape.

Both workloads report the same end-to-end quantities, each in its own terms:
an *operation* is one ``run_pipeline`` through ``clusters.count()`` on
``boilerplate_html``, and one ``process_batch`` micro-batch (after one timed
``seed_index`` and one timed ``delta_dedup``) on ``incremental``.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import traceback
from collections import Counter
from contextlib import nullcontext

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.functions.html_strip import strip_tags, with_extracted_text
from cqaduplicatefind_spark.functions.normalize import review_to_wordlist, with_normalized_text
from cqaduplicatefind_spark.operators.candidates import explode_bands
from cqaduplicatefind_spark.operators.connected_components import (
    attach_singletons,
    connected_components,
)
from cqaduplicatefind_spark.operators.overlap import exact_span_edges
from cqaduplicatefind_spark.operators.verify import accept_condition, accept_edges, score_pairs
from cqaduplicatefind_spark.plans.delta import delta_dedup, seed_index, signature_frame
from cqaduplicatefind_spark.plans.pipeline import candidate_stage, run_pipeline, signature_stage
from cqaduplicatefind_spark.streaming.incremental import IncrementalDedup

import gen


class ShapeError(RuntimeError):
    """The generated input lost the property its workload exists for."""


def guard(ok: bool, what: str) -> None:
    if not ok:
        raise ShapeError(f"workload-shape guard failed: {what}")


def config(cores: int) -> DedupConfig:
    """bench.py's duplicate semantics (3-token shingles, Jaccard 0.7) with the
    execution widths sized to the host, as bench.py sizes its shuffle width
    to the core count: the default 32-way signature stage runs eight task
    waves on four cores."""
    return DedupConfig(shingle_k=3, jaccard_threshold=0.7,
                       signature_partitions=cores, shuffle_partitions=cores)


def _shingles(tokens: list[str], k: int) -> set[tuple[str, ...]]:
    return {tuple(tokens[i:i + k]) for i in range(len(tokens) - k + 1)}


def must_find(corpus: gen.Corpus, col: str, html: bool, cfg: DedupConfig) -> list[tuple[str, str]]:
    """Planted pairs the engine's semantics call duplicates, checked exactly
    on those pairs only (never all pairs), over the engine's own html
    extraction and normalization: near pairs need shingle Jaccard >= the
    threshold, span pairs a shared run >= ``min_overlap_span`` tokens."""
    ids = {u for a, b, _ in corpus.pairs for u in (a, b)}
    norm = {
        r["url"]: review_to_wordlist(strip_tags(r[col]) if html else r[col]).split()
        for r in corpus.rows if r["url"] in ids
    }
    span = cfg.min_overlap_span
    out = []
    for a, b, kind in corpus.pairs:
        if kind == "span":
            ok = bool(_shingles(norm[a], span) & _shingles(norm[b], span))
        else:
            sa, sb = _shingles(norm[a], cfg.shingle_k), _shingles(norm[b], cfg.shingle_k)
            ok = len(sa & sb) >= cfg.jaccard_threshold * len(sa | sb)
        if ok:
            out.append((a, b))
    return out


def fingerprint(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]


class Measured:
    """What one run measured: per-operation walls and doc counts, and
    workload-specific figures in ``extra``."""

    def __init__(self, on_first_op=lambda: None) -> None:
        self.walls: list[float] = []
        self.docs = 0
        self.attempted = 0
        self.failed = 0
        self.extra: dict = {}
        self._on_first_op = on_first_op

    def op_done(self, wall: float, docs: int) -> None:
        self.walls.append(wall)
        self.docs += docs
        if len(self.walls) == 1:
            self._on_first_op()

    def attempt(self, fn) -> tuple[bool, object]:
        self.attempted += 1
        try:
            return True, fn()
        except Exception:  # an operation failure is counted and reported, not fatal
            self.failed += 1
            traceback.print_exc()
            return False, None

    def docs_per_s(self) -> float:
        return self.docs / sum(self.walls)


def _frame(spark: SparkSession, rows: list[dict], parts: int) -> DataFrame:
    return spark.createDataFrame(pd.DataFrame(rows)).repartition(parts, "url")


# ------------------------------------------------------------ boilerplate_html


class BoilerplateHtml:
    """``run_pipeline(use_html=True)`` with the span pass on."""

    WARM_PAGES = 64

    def __init__(self, corpus: gen.Corpus, cores: int) -> None:
        self.corpus = corpus
        self.cfg = config(cores)
        self.pages: DataFrame | None = None

    def load(self, spark: SparkSession) -> None:
        self.pages = _frame(spark, self.corpus.rows, self.cfg.signature_partitions).persist()
        self.pages.count()

    def unload(self) -> None:
        self.pages.unpersist()

    def prepare(self, spark: SparkSession) -> None:
        """Starts the Python workers, untimed, as bench.py warms up before
        timing: the signature UDF over the first few pages, one task per
        core. No operation runs, so the first timed ``run_pipeline`` is the
        first in its JVM and pays for compiling its plans' code; a warm-up
        operation would cost as much as the timed one, whatever its input."""
        small = _frame(spark, self.corpus.rows[:self.WARM_PAGES], self.cfg.signature_partitions)
        signature_frame(small, self.cfg, text_col="html").count()

    def _op(self, spark: SparkSession):
        res = run_pipeline(spark, self.pages, self.cfg, use_html=True)
        res.clusters.count()
        return res

    def measure(self, spark: SparkSession, seconds: float, on_first_op) -> Measured:
        m = Measured(on_first_op)
        t_end = time.perf_counter() + seconds
        while True:
            t0 = time.perf_counter()
            ok, res = m.attempt(lambda: self._op(spark))
            if ok:
                m.op_done(time.perf_counter() - t0, len(self.corpus.rows))
            if time.perf_counter() >= t_end:
                break
            if ok:
                # released before the next operation: Spark shares the cache
                # of an identical plan, so a kept result would serve the next
                # operation's persisted stages
                res.release()
        if ok:
            clusters = {r.url: r.cluster_id for r in res.clusters.collect()}
            m.extra.update(self._quality(clusters))
            m.extra.update(self.shape(res.signatures, res.scored, res.overlap_edges))
            res.release()
        return m

    def _quality(self, clusters: dict[str, str]) -> dict:
        truth = must_find(self.corpus, "html", True, self.cfg)
        return {
            "clusters_ok": len(clusters) == len(self.corpus.rows)
            and all(clusters.get(c) == c for c in clusters.values()),
            "planted_pairs": len(self.corpus.pairs),
            "must_find_pairs": len(truth),
            "dup_pair_recall": sum(clusters[a] == clusters[b] for a, b in truth) / len(truth),
        }

    def shape(self, signatures: DataFrame, scored: DataFrame, overlap_edges: DataFrame) -> dict:
        """The workload-shape guards, on the run's own intermediates."""
        cfg = self.cfg
        accepted = accept_condition(cfg)
        verdicts = scored.agg(
            F.count(F.lit(1)).alias("scored"),
            F.count(F.when(accepted, 1)).alias("accepted"),
            F.count(F.when(F.col("is_star") & ~accepted, 1)).alias("rejected_stars"),
        ).first()
        out = {
            "max_bucket": explode_bands(signatures.where(F.col("n_shingles") > 0), cfg)
            .groupBy("band", "bh").count().agg(F.max("count")).first()[0],
            **verdicts.asDict(),
            "overlap_edges": overlap_edges.count(),
        }
        guard(out["max_bucket"] > cfg.max_band_group, "no band bucket above max_band_group")
        guard(0 < out["accepted"] < out["scored"], "verify accepted all or none of the candidates")
        guard(out["rejected_stars"] > 0, "verify rejected no star edge, so rescue stays idle")
        guard(out["overlap_edges"] > 0, "the span pass found no edge")
        return out

    def reference(self, spark: SparkSession) -> tuple[str, float]:
        t0 = time.perf_counter()
        res = self._op(spark)
        wall = time.perf_counter() - t0
        h = fingerprint((r.url, r.cluster_id) for r in res.clusters.collect())
        res.release()
        return h, wall

    def traced(self, spark: SparkSession, tr) -> tuple[str, dict]:
        """``run_pipeline``'s stages called one layer at a time, each output
        materialized inside its own span."""
        cfg, pages = self.cfg, self.pages
        held: list = []

        def done(df: DataFrame) -> tuple[DataFrame, int]:
            df = df.persist()
            held.append(df)
            return df, df.count()

        c: dict[str, float] = {}
        if pages.rdd.getNumPartitions() < cfg.signature_partitions:
            pages = pages.repartition(cfg.signature_partitions, "url")
        with tr.span("html_strip"):
            text, _ = done(with_extracted_text(pages, "html", "text"))
        with tr.span("normalize"):
            norm, _ = done(with_normalized_text(text, "text", "norm_text").select("url", "norm_text"))
        with tr.span("signatures"):
            sig, n_sig = done(signature_stage(norm, cfg))
        with tr.span("candidates"):
            cands, c["candidates.pairs"] = done(candidate_stage(sig, cfg, mode="base"))
        with tr.span("verify"):
            scored, c["verify.pairs"] = done(score_pairs(
                cands, sig, cfg, evidence=cfg.verify_evidence, keep_cols=("is_star",)))
            edges, c["verify.edges"] = done(accept_edges(scored, cfg))
        c["rescue.pairs"] = c["rescue.edges"] = 0
        with tr.span("rescue"):
            orphans = (
                scored.where(F.col("is_star") & ~accept_condition(cfg))
                .select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
            )
            c["rescue.orphans"] = orphans.count()
            if c["rescue.orphans"] > 0:
                with tr.span("candidates"):
                    rescue_cands, c["rescue.pairs"] = done(
                        candidate_stage(sig, cfg, mode="rescue", orphans=orphans).join(
                            cands.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"))
                with tr.span("verify"):
                    rescue_edges, c["rescue.edges"] = done(accept_edges(
                        score_pairs(rescue_cands, sig, cfg, evidence=cfg.verify_evidence), cfg))
                edges = edges.unionByName(rescue_edges)
        with tr.span("connected_components"):
            pre, n_assign = done(connected_components(
                edges.select("id_a", "id_b"), assume_unconverged=True,
                input_distinct=True, persisted=held))
        with tr.span("overlap"):
            over, c["overlap.edges"] = done(exact_span_edges(
                sig, cfg, exclude_assignments=pre, persisted=held, assignments_count=n_assign))
        with tr.span("connected_components"):
            if c["overlap.edges"] == 0:
                clusters = attach_singletons(pages.select("url"), pre)
            else:
                both = pre.select(
                    F.col("id").alias("id_a"), F.col("cluster_id").alias("id_b")
                ).unionByName(over.select("id_a", "id_b"))
                clusters = attach_singletons(pages.select("url"), connected_components(
                    both, input_distinct=True, persisted=held))
            clusters, _ = done(clusters)
        rows = clusters.collect()
        shape = self.shape(sig, scored, over)
        guard(c["rescue.pairs"] > 0, "the rescue round paired nothing")
        sizes = Counter(r.cluster_id for r in rows)
        c.update({
            "signatures.shingles": sig.agg(F.sum("n_shingles")).first()[0],
            "candidates.band_rows": cfg.bands * sig.where(F.col("n_shingles") > 0).count(),
            "candidates.pairs_per_doc": c["candidates.pairs"] / n_sig,
            "candidates.star_pairs": cands.where(F.col("is_star")).count(),
            "candidates.max_bucket": shape["max_bucket"],
            "verify.accept_ratio": c["verify.edges"] / c["verify.pairs"],
            "connected_components.edges": c["verify.edges"] + c["rescue.edges"] + c["overlap.edges"],
            "connected_components.clusters": sum(1 for v in sizes.values() if v > 1),
        })
        for df in held:
            df.unpersist()
        return fingerprint((r.url, r.cluster_id) for r in rows), c


# ---------------------------------------------------------------- incremental


class Incremental:
    """``seed_index``, one ``delta_dedup``, then a closed loop of
    micro-batches through ``IncrementalDedup.process_batch``: one caller,
    each batch sent when the previous returns, as ``foreachBatch`` triggers
    run. Micro-batches arrive as precomputed signatures. The seed and the
    increment are timed once per run and reported beside the metrics; the
    operations are the micro-batches."""

    # small enough that a store compaction lands inside every run: the seed
    # and the increment fill the first tier
    COMPACT_EVERY = 2
    TRACE_BATCHES = 1

    def __init__(self, corpus: gen.Corpus, cores: int, work_dir: str) -> None:
        self.corpus = corpus
        self.work_dir = work_dir
        self.cfg = config(cores)
        self.frames: dict[str, DataFrame] = {}
        self.batches: list[DataFrame] = []
        self._stores = 0
        self._truth: list[tuple[str, str]] | None = None

    def load(self, spark: SparkSession) -> None:
        parts = self.cfg.signature_partitions
        p = self.corpus.parts
        stream = [r for b in p["batches"] for r in b]
        self.frames = {
            "seed": _frame(spark, p["seed"], parts).persist(),
            "increment": _frame(spark, p["increment"], parts).persist(),
            "stream": _frame(spark, stream, parts).persist(),
        }
        for df in self.frames.values():
            df.count()

    def unload(self) -> None:
        for df in self.frames.values():
            df.unpersist()

    def prepare(self, spark: SparkSession) -> None:
        """Micro-batch signatures, computed once outside every metric (the
        stream part measures the store, not the signature kernel); this
        starts the Python workers. The seed and the increment, which run
        before the first micro-batch, are its warm-up: the increment runs
        ``process_batch`` and a compaction."""
        sig = signature_frame(self.frames["stream"], self.cfg).persist()
        sig.count()
        self.frames["stream_sig"] = sig
        self.batches = [
            sig.where(F.col("url").startswith(f"mb{b:04d}-"))
            for b in range(len(self.corpus.parts["batches"]))
        ]

    def _run(self, spark: SparkSession, m: Measured, more, span=lambda layer: nullcontext()):
        """Seed, increment, then micro-batches while ``more(i)``."""
        cfg, p, inputs = self.cfg, self.corpus.parts, self.frames
        self._stores += 1
        root = os.path.join(self.work_dir, f"store{self._stores}")
        bands, sigs, matches = (os.path.join(root, d) for d in ("bands", "sigs", "matches"))
        t0 = time.perf_counter()
        with span("delta"):
            m.attempt(lambda: seed_index(spark, inputs["seed"], cfg, root))
        t1 = time.perf_counter()
        with span("delta"):
            m.attempt(lambda: delta_dedup(
                spark, inputs["increment"], cfg, root, batch_id=0,
                compact_every=self.COMPACT_EVERY).edges.count())
        t2 = time.perf_counter()
        m.extra.update({"seed_s": t1 - t0, "increment_s": t2 - t1})
        dedup = IncrementalDedup(spark, cfg, bands, sigs, matches, compact_every=self.COMPACT_EVERY)
        i = 0
        while i < len(self.batches) and more(i):
            t0 = time.perf_counter()
            with span("incremental"):
                ok, _ = m.attempt(lambda: dedup.process_batch(self.batches[i], i + 1))
            if ok:
                m.op_done(time.perf_counter() - t0, len(p["batches"][i]))
            i += 1
        edges = {(r.id_a, r.id_b) for r in dedup.matches().select("id_a", "id_b").collect()}
        out = {
            "edges": edges,
            "stats": dedup.batch_stats,
            "store_files": sum(
                f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs),
            "compacted": any(n.startswith("compacted=") for n in os.listdir(bands)),
            "batches": i,
        }
        shutil.rmtree(root, ignore_errors=True)
        return out

    def _check(self, m: Measured, run: dict) -> None:
        guard(all(s["n_index_band_rows_joined"] > 0 for s in run["stats"]),
              "a micro-batch joined no index rows")
        guard(run["compacted"], "no store compaction inside the run")
        if self._truth is None:
            self._truth = must_find(self.corpus, "text", False, self.cfg)
        p = self.corpus.parts
        arrived = {r["url"] for r in p["seed"] + p["increment"]}
        arrived |= {r["url"] for b in p["batches"][:run["batches"]] for r in b}
        due = [(a, b) for a, b in self._truth if a in arrived and b in arrived]
        found = {tuple(sorted(e)) for e in run["edges"]}
        m.extra.update({
            "clusters_ok": True,
            "planted_pairs": len(self.corpus.pairs),
            "must_find_pairs": len(due),
            "dup_pair_recall": sum(p in found for p in due) / len(due),
            "seed_docs_per_s": len(p["seed"]) / m.extra["seed_s"],
        })

    def measure(self, spark: SparkSession, seconds: float, on_first_op) -> Measured:
        """The seed and the increment, then micro-batches for ``seconds``
        (at least one)."""
        m = Measured(on_first_op)
        t_end: list[float] = []

        def more(i: int) -> bool:
            if not t_end:
                t_end.append(time.perf_counter() + seconds)
            return i < 1 or time.perf_counter() < t_end[0]

        run = self._run(spark, m, more)
        self._check(m, run)
        return m

    def reference(self, spark: SparkSession) -> tuple[str, float]:
        m = Measured()
        t0 = time.perf_counter()
        run = self._run(spark, m, lambda i: i < self.TRACE_BATCHES)
        return fingerprint(run["edges"]), time.perf_counter() - t0

    def traced(self, spark: SparkSession, tr) -> tuple[str, dict]:
        m = Measured()
        run = self._run(spark, m, lambda i: i < self.TRACE_BATCHES, span=tr.span)
        self._check(m, run)
        stats = run["stats"]
        return fingerprint(run["edges"]), {
            "incremental.index_rows_joined": sum(s["n_index_band_rows_joined"] for s in stats),
            "incremental.candidates": sum(s["n_candidates"] for s in stats),
            "incremental.payload_rows": sum(s["n_sig_payload_rows"] for s in stats),
            "incremental.store_files": run["store_files"],
        }
