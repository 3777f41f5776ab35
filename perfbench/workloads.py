"""The benchmark's two workloads.

Each workload builds its inputs from the seed in ``setup`` (untimed,
counted in ``setup_s``), then ``iteration`` runs one timed unit of work
and returns its wall time, the operations it performed and the
correctness checks it made.  ``final_checks`` runs once, untimed, after
the timed loop.  ``layer_metrics`` turns the traced run's spans into the
per-layer metrics.

Library modules are always called through the module object
(``pipeline.dedup_pipeline``, not a name imported at load time) so the
traced run's wrappers see every call.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import checks
import spans as tr

import datasketches_server_spark.plans.band_index as band_index
import datasketches_server_spark.plans.metrics as metrics
import datasketches_server_spark.plans.pipeline as pipeline
import datasketches_server_spark.plans.queries as queries
import datasketches_server_spark.operators.dedup as dedup
import datasketches_server_spark.operators.prefix as prefix
import datasketches_server_spark.sources.synth as synth
import datasketches_server_spark.streaming.incremental as streaming
import datasketches_server_spark.functions.sketches as SK
from datasketches_server_spark.config import PipelineConfig, SketchConfig
from datasketches_server_spark.server import SketchTableServer, parse_config


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str  # scratch dir of this run, inside the checkout
    tracer: tr.Tracer | None = None

    def group(self, name: str) -> None:
        """Tag the following Spark jobs (traced run only)."""
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(name, name)


@dataclass
class IterResult:
    wall: float
    items: int
    ops: list[tuple[str, float]] = field(default_factory=list)
    checks: list[tuple[str, bool]] = field(default_factory=list)
    phases: dict[str, int] = field(default_factory=dict)  # phase -> span id (traced run)


def now() -> float:
    return time.monotonic()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    warm_iters = 1
    item_unit = ""

    def setup(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def iteration(self, ctx: Ctx, i: int) -> IterResult:
        raise NotImplementedError

    def final_checks(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        return []

    def end_to_end(self, iters: list[IterResult]) -> tuple[float, float]:
        """(run_s, items_per_s): the median iteration wall, and items over
        the timed wall."""
        return (statistics.median(it.wall for it in iters),
                sum(it.items for it in iters) / sum(it.wall for it in iters))

    def summary(self, iters: list[IterResult]) -> list[tuple[str, float, str, str]]:
        """The per-workload metrics printed by name:
        (name, value, unit, note)."""
        return []

    def layer_metrics(self, ctx: Ctx, iters: list[IterResult]) -> dict[str, float]:
        return {}

    def teardown(self, ctx: Ctx) -> None:
        pass


def per_iter(tracer: tr.Tracer, iters: list[IterResult], name: str, phase: str,
             self_only: bool = True) -> float:
    """Median over traced iterations of the summed (self) time of the
    ``name`` spans inside that iteration's ``phase`` span."""
    vals = []
    for it in iters:
        spans = tracer.by_name(name, root=it.phases[phase])
        vals.append(tr.self_time(spans) if self_only else tr.dur(spans))
    return median_or_zero(vals)


def per_iter_rows(tracer: tr.Tracer, iters: list[IterResult], name: str, phase: str,
                  key: str = "rows") -> float:
    vals = [
        sum(s.attrs.get(key, 0) for s in tracer.by_name(name, root=it.phases[phase])) for it in iters
    ]
    return median_or_zero(vals)


# ---------------------------------------------------------------------------
# dedup: batch pipeline, native doc-dedup operators, incremental ingest chain
# ---------------------------------------------------------------------------

def write_documents(path: str, n_docs: int, seed: int) -> None:
    """A seeded ``documents`` table (doc_id, text, lang, source, n_chars)
    with the near-duplicate structure the registered queries target:
    half the docs in families of ~4 sharing a base text at mutation rates
    0-30%, and a shared boilerplate run in one doc in eight."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = synth.VOCAB
    boiler = [rng.choice(vocab) for _ in range(12)]
    n_fam = max(1, n_docs // 8)
    bases = [[rng.choice(vocab) for _ in range(rng.randint(20, 120))] for _ in range(n_fam)]
    texts = []
    for d in range(n_docs):
        if d < n_docs // 2:
            rate = rng.choice((0.0, 0.0, 0.02, 0.05, 0.1, 0.3))
            toks = [rng.choice(vocab) if rng.random() < rate else w for w in bases[d % n_fam]]
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(20, 120))]
        if d % 8 == 3:
            at = rng.randint(0, len(toks))
            toks = toks[:at] + boiler + toks[at:]
        texts.append(" ".join(toks))
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(("en", "de", "zh")) for _ in range(n_docs)],
        "source": [f"src{d % 5}" for d in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))


class Dedup(Workload):
    """Every dedup layer on one planted corpus, in three phases per
    iteration:

    * batch -- ``dedup_pipeline`` over the whole corpus, then the
      ``plans.metrics`` rollup (the signature UDF, LSH and connected
      components do most of the work);
    * docs -- the native doc-dedup operators, no Python UDF: exact-substring
      coverage and the q111 / q127 registered queries over a seeded
      ``documents`` table, turn-prefix pairs over the corpus;
    * chain -- the corpus split by hash into a 50% base (built and written
      to disk in set-up) and two batches of 1/4 each, deduplicated in order by
      ``incremental_dedup`` against the on-disk state, edges, clusters and
      band index, each then absorbed (parquet writes plus
      ``append_band_index``).  Per-batch work is driver planning and Spark
      job round-trips, not the UDF.

    The chain's final clusters must equal the batch phase's full
    recompute."""

    name = "dedup"
    warm_iters = 1  # docs + the first chain batch
    item_unit = "input rows (corpus turns twice, documents, batch turns)"
    n_convs = 3_000
    n_docs = 400
    n_batches = 2

    def p(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def setup(self, ctx: Ctx) -> None:
        spark = ctx.spark
        self.cfg = PipelineConfig()
        self.dir = os.path.join(ctx.work, "dedup")
        self.corpus = synth.synth_transcripts(spark, n_convs=self.n_convs, seed=ctx.seed).persist()
        self.n_turns = self.corpus.count()
        self.sf = os.path.join(self.dir, "docs")
        write_documents(self.sf, self.n_docs, ctx.seed)
        self.docs = spark.read.parquet(os.path.join(self.sf, "documents.parquet")).select("doc_id", "text")
        # hash split: slots [n, 2n) are the chain's base (50%), slot i is batch i
        slot = F.pmod(F.xxhash64("conv_id"), F.lit(2 * self.n_batches))
        self.batches = [self.corpus.where(slot == i) for i in range(self.n_batches)]
        sizes = (
            self.corpus.groupBy(slot.alias("slot"))
            .agg(F.count("*").alias("turns"), F.sum(F.length("text")).alias("bytes"))
            .collect()
        )
        by_slot = {r["slot"]: r for r in sizes}
        self.batch_turns = [int(by_slot[i]["turns"]) for i in range(self.n_batches)]
        self.batch_bytes = [int(by_slot[i]["bytes"]) for i in range(self.n_batches)]
        base = pipeline.dedup_pipeline(self.corpus.where(slot >= self.n_batches), self.cfg)
        base.conv_state.write.parquet(self.p("state_base"))
        base.edges.write.parquet(self.p("edges_base"))
        base.clusters.write.parquet(self.p("clusters_base"))
        band_index.write_band_index(base.conv_state, self.dir, self.cfg, input_fp="base")
        base.unpersist()
        self.fps: dict[str, object] = {}
        self.rows: dict[str, list] = {}  # last collected q111 / q127 results
        self.last = None
        self.batch_stats: list[dict] = []

    # -- phases ----------------------------------------------------------------
    def iteration(self, ctx: Ctx, i: int) -> IterResult:
        """i < 0 is a warm iteration: no batch phase, and its chain stops
        after one batch."""
        spark = ctx.spark
        if self.last is not None:
            self.last.unpersist()
        ops: list[tuple[str, float]] = []
        cks: list[tuple[str, bool]] = []
        phases: dict[str, int] = {}

        def stable(name, fp):
            self.fps.setdefault(name, fp)
            cks.append((f"{name} fingerprint stable", fp == self.fps[name]))

        @contextlib.contextmanager
        def phase(name):
            if ctx.tracer is None:
                yield
                return
            with ctx.tracer.span(f"phase.{name}") as sp:
                phases[name] = sp.sid
                yield

        t0 = now()
        if i >= 0:  # warm iterations skip it: the base build in set-up ran the same path
            with phase("batch"):
                res = pipeline.dedup_pipeline(self.corpus, self.cfg)
                fp_full = checks.fingerprint(res.clusters)
                stable("clusters", fp_full)
                t1 = now()
                roll = metrics.global_rollup(
                    metrics.shingle_metrics(res.conv_state, self.cfg),
                    metrics.simscore_metrics(res.edges, self.cfg),
                    metrics.cluster_metrics(res.clusters, self.cfg),
                    self.cfg,
                ).collect()[0]
                ops += [("dedup", t1 - t0), ("rollup", now() - t1)]
            self.last, self.roll = res, roll
            cks.append(("rollup covers every conv", roll["n_convs"] == self.n_convs))
            if ctx.tracer is not None:
                self._bucket_counts(res)

        # the registered queries are collected, as their callers do; the
        # operators are forced through an order-free fingerprint
        steps = (
            ("exactsubstr", lambda: checks.fingerprint(
                dedup.cross_doc_duplicate_coverage(self.docs, exact=False))),
            ("q111", lambda: queries.q111_allpairs_ssjoin(spark, self.sf).collect()),
            ("q127", lambda: queries.q127_winnowing_pairs(spark, self.sf).collect()),
            ("prefix", lambda: checks.fingerprint(prefix.turn_prefix_pairs(self.corpus))),
        )
        with phase("docs"):
            for name, fn in steps:
                t = now()
                out = fn()
                ops.append((name, now() - t))
                if isinstance(out, list):
                    self.rows[name] = out
                    out = checks.value_hash([tuple(r) for r in out], list(out[0].__fields__) if out else [])
                stable(name, out)

        with phase("chain"):
            self._reset()
            for b in range(1 if i < 0 else self.n_batches):
                d, a, fp = self._batch(ctx, b, tag=f"it{i}")
                ops += [("batch", d + a), ("batch.dedup", d), ("batch.absorb", a)]
        if i >= 0:
            cks.append(("chain = full recompute", fp == fp_full))
        items = 2 * self.n_turns + self.n_docs + sum(self.batch_turns)
        return IterResult(wall=now() - t0, items=items, ops=ops, checks=cks, phases=phases)

    def _reset(self) -> None:
        """Back to the chain's base: drop every batch's outputs."""
        shutil.rmtree(self.p("chain"), ignore_errors=True)
        idx_root = os.path.dirname(band_index.band_index_dir(self.dir, self.cfg, "base"))
        for name in os.listdir(idx_root):
            if not name.endswith("_base"):
                shutil.rmtree(os.path.join(idx_root, name))
        shutil.copytree(self.p("clusters_base"), self.p("chain/clusters_cur"))
        self.state_dirs = [self.p("state_base")]
        self.edge_dirs = [self.p("edges_base")]
        self.index_fps = ["base"]

    @staticmethod
    def _union(spark, dirs):
        out = None
        for d in dirs:
            df = spark.read.parquet(d)
            out = df if out is None else out.unionByName(df)
        return out

    def _batch(self, ctx: Ctx, i: int, tag: str) -> tuple[float, float, tuple[int, int]]:
        """Dedup batch ``i`` against the on-disk state, then absorb it."""
        spark = ctx.spark
        ctx.group(f"{tag}-batch-{i}")
        old_state = self._union(spark, self.state_dirs)
        old_edges = self._union(spark, self.edge_dirs)
        old_clusters = spark.read.parquet(self.p("chain/clusters_cur"))
        win: list = []
        cc: list = []
        t0 = now()
        old_buckets = band_index.read_band_index(spark, self.dir, self.cfg, input_fp=self.index_fps)
        res = pipeline.incremental_dedup(
            old_state, old_edges, self.batches[i], self.cfg,
            old_buckets=old_buckets, old_clusters=old_clusters,
            window_input_out=win, contracted_out=cc,
        )
        fp = checks.fingerprint(res.clusters)
        t1 = now()
        span = ctx.tracer.start("ingest.absorb") if ctx.tracer else None
        new_state = pipeline.conv_signatures(self.batches[i], self.cfg)
        new_state.write.parquet(self.p(f"chain/state_b{i}"))
        res.new_edges.write.parquet(self.p(f"chain/edges_b{i}"))
        res.clusters.write.parquet(self.p("chain/clusters_next"))
        res.unpersist()
        shutil.rmtree(self.p("chain/clusters_cur"))
        os.rename(self.p("chain/clusters_next"), self.p("chain/clusters_cur"))
        band_index.append_band_index(
            spark.read.parquet(self.p(f"chain/state_b{i}")), self.dir, self.cfg, batch_fp=f"b{i}"
        )
        if span is not None:
            ctx.tracer.finish(span)
        t2 = now()
        self.state_dirs.append(self.p(f"chain/state_b{i}"))
        self.edge_dirs.append(self.p(f"chain/edges_b{i}"))
        self.index_fps.append(f"b{i}")
        if ctx.tracer is not None:
            written = sum(
                dir_bytes(d) for d in (
                    self.p(f"chain/state_b{i}"), self.p(f"chain/edges_b{i}"), self.p("chain/clusters_cur"),
                    band_index.band_index_dir(self.dir, self.cfg, f"b{i}"),
                )
            )
            self.batch_stats.append({
                "jobs": tr.jobs_in_group(spark, f"{tag}-batch-{i}"),
                "window_input_rows": win[0].count() if win else 0,
                "contracted_edges": cc[0].count() if cc else 0,
                "bytes_ratio": written / self.batch_bytes[i],
            })
        return t1 - t0, t2 - t1, fp

    def _bucket_counts(self, res) -> None:
        """Traced run: skew and cluster counts, read outside the layer spans."""
        b = res.bucket_report.collect()[0]
        self.counts = {
            "lsh.max_bucket": float(b["max_bucket"] or 0),
            "lsh.star_buckets": float(b["star_buckets"] or 0),
            "lsh.dropped_members": float(b["dropped_members"] or 0),
            "components.clusters": float(res.clusters.select("cluster_id").distinct().count()),
        }

    # -- checks and metrics ----------------------------------------------------
    def final_checks(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        import __spark_entry__ as entry

        pairs = checks.planted_pairs(self.corpus, self.n_convs)
        self.recall = checks.cluster_recall(self.last.clusters, pairs)
        n_edges = self.last.edges.count()
        out = [
            ("recall >= 0.99", self.recall >= 0.99,
             f"recall {self.recall:.5f} over {len(pairs)} planted pairs (chain clusters are identical)"),
            ("rollup pair count = edges", self.roll["n_pairs"] == n_edges, f"{self.roll['n_pairs']} vs {n_edges}"),
        ]
        oracles = entry.oracle_sql()
        path = os.path.join(self.sf, "documents.parquet")
        for q, key in (("q111_allpairs_ssjoin", "q111"), ("q127_winnowing_pairs", "q127")):
            ok, detail = checks.duckdb_matches(self.rows[key], oracles[q], path)
            out.append((f"{q} = DuckDB oracle", ok, detail))
        cov = dedup.cross_doc_duplicate_coverage(self.docs, exact=False).agg(
            F.sum("dup_tokens").alias("d")).collect()[0]["d"] or 0
        out.append(("exactsubstr finds the planted duplicates", cov > 0, f"{cov} duplicate tokens"))
        return out

    def summary(self, iters):
        def p50(kind):
            return statistics.median(s for it in iters for k, s in it.ops if k == kind)

        n_b = sum(1 for it in iters for k, _ in it.ops if k == "batch")
        out = [
            ("turns_per_s", self.n_turns / (p50("dedup") + p50("rollup")), "1/s",
             f"batch phase: dedup_pipeline + rollup over {self.n_turns} turns, {self.n_convs} convs"),
            ("batch_p50_s", p50("batch"), "s",
             f"chain phase, n={n_b}: batches of ~{self.n_convs // (2 * self.n_batches)} convs "
             f"onto a base of ~{self.n_convs // 2}"),
            ("chain_turns_per_s", sum(self.batch_turns) / (self.n_batches * p50("batch")), "1/s",
             "batch turns over the median batch latency"),
            ("recall", getattr(self, "recall", float("nan")), "ratio", "planted-family exact-Jaccard pairs"),
        ]
        for kind in ("dedup", "rollup", "exactsubstr", "q111", "q127", "prefix", "batch.dedup", "batch.absorb"):
            out.append((f"{kind}_p50_s", p50(kind), "s", ""))
        return out

    def layer_metrics(self, ctx: Ctx, iters):
        t = ctx.tracer
        n = self.n_batches

        def batch(name, self_only=True):
            return per_iter(t, iters, name, "batch", self_only)

        def chain(name, self_only=True):
            return per_iter(t, iters, name, "chain", self_only) / n

        def docs(name):
            return per_iter(t, iters, name, "docs")

        sig_s = batch("signatures")
        cands = per_iter_rows(t, iters, "lsh.candidates", "batch")
        verified = per_iter_rows(t, iters, "lsh.verify", "batch")
        st = self.batch_stats
        return {
            **self.counts,
            "signatures.s": sig_s,
            "signatures.convs_per_s": per_iter_rows(t, iters, "signatures", "batch") / sig_s if sig_s else 0.0,
            "text.assemble_s": batch("text.assemble"),
            "lsh.band_s": batch("lsh.band"),
            "lsh.band_rows": per_iter_rows(t, iters, "lsh.band", "batch"),
            "lsh.candidates_s": batch("lsh.candidates"),
            "lsh.candidate_pairs": cands,
            "lsh.verify_s": batch("lsh.verify"),
            "lsh.verified_edges": verified,
            "lsh.verify_yield": verified / cands if cands else 0.0,
            "components.s": batch("components.cc") + batch("components.attach"),
            "components.edges_in": per_iter_rows(t, iters, "components.cc", "batch", "rows_in"),
            "metrics.rollup_s": sum(
                batch(f"metrics.{fn}", self_only=False)
                for fn in ("shingle_metrics", "simscore_metrics", "cluster_metrics")
            ) + batch("metrics.global_rollup"),
            # chain phase, per batch
            "lsh.incremental_candidates_s": chain("lsh.incremental_candidates"),
            "lsh.window_input_rows": median_or_zero(s["window_input_rows"] for s in st),
            "components.contracted_edges": median_or_zero(s["contracted_edges"] for s in st),
            "band_index.read_s": chain("band_index.read"),
            "band_index.append_s": chain("band_index.append", self_only=False),
            "ingest.absorb_s": chain("ingest.absorb", self_only=False),
            "ingest.bytes_written_per_input_byte": median_or_zero(s["bytes_ratio"] for s in st),
            "pipeline.incremental_self_s": chain("pipeline.incremental"),
            "spark.jobs_per_batch": median_or_zero(s["jobs"] for s in st),
            # docs phase
            "dedup.exactsubstr_s": docs("dedup.exactsubstr"),
            "dedup.exactsubstr_rows": per_iter_rows(t, iters, "dedup.exactsubstr", "docs"),
            "prefix.pairs_s": docs("prefix.pairs"),
            "prefix.pairs_rows": per_iter_rows(t, iters, "prefix.pairs", "docs"),
            "queries.q111_s": docs("queries.q111"),
            "queries.q111_rows": per_iter_rows(t, iters, "queries.q111", "docs"),
            "queries.q127_s": docs("queries.q127"),
            "queries.q127_rows": per_iter_rows(t, iters, "queries.q127", "docs"),
        }

    def teardown(self, ctx):
        if self.last is not None:
            self.last.unpersist()
        self.corpus.unpersist()


# ---------------------------------------------------------------------------
# sketch_serve: one closed-loop client replaying a seeded request script
# ---------------------------------------------------------------------------

FAMILIES = ("theta", "hll", "kll", "frequency", "reservoir")
DECLS = [
    {"name": f"{fam}_{s}", "family": fam, "k": k, **({"type": "long"} if fam in ("theta", "hll") else {})}
    for fam, k in (("theta", 12), ("hll", 12), ("kll", 200), ("frequency", 10), ("reservoir", 32))
    for s in ("a", "b", "ab", "u", "copy")
]


class SketchServe(Workload):
    name = "sketch_serve"
    warm_iters = 2  # the first pass compiles; the second lets the JIT settle
    item_unit = "requests"
    rows = 10_000  # rows per update request

    def setup(self, ctx: Ctx) -> None:
        spark = ctx.spark
        rng = np.random.default_rng(ctx.seed)
        self.dir = os.path.join(ctx.work, "sketch")
        self.decls = parse_config(DECLS)
        self.inputs: dict[tuple[str, int], object] = {}
        self.exact: dict[tuple[str, int], np.ndarray] = {}
        for fam in FAMILIES:
            for b in range(3):
                if fam in ("theta", "hll", "reservoir"):
                    v = rng.integers(0, 40_000, self.rows, dtype=np.int64)
                elif fam == "kll":
                    v = rng.lognormal(3.0, 1.0, self.rows).astype(np.float32).astype(np.float64)
                else:
                    v = np.array([f"item{z}" for z in np.minimum(rng.zipf(1.3, self.rows), 10_000)])
                self.exact[(fam, b)] = v
                self.inputs[(fam, b)] = self._frame(spark, v)
        # the union stream of batches 0..2, for merge(a, b) checks
        for fam in ("theta", "hll"):
            v = np.concatenate([self.exact[(fam, b)] for b in range(3)])
            self.exact[(fam, "u")] = v
            self.inputs[(fam, "u")] = self._frame(spark, v)
        self.events = []
        for e in range(2):
            et = rng.integers(0, 4, 2_000)
            uid = rng.integers(0, 3_000, 2_000)
            pdf = {"event_type": [f"type{x}" for x in et], "user_id": uid.tolist()}
            df = spark.createDataFrame(pd.DataFrame(pdf), "event_type string, user_id long").persist()
            self.events.append((df, et, uid))

    @staticmethod
    def _frame(spark, v: np.ndarray):
        if v.dtype.kind in "iu":
            schema = "value long"
        elif v.dtype.kind == "f":
            schema = "value double"
        else:
            schema = "value string"
        # cached by the warm pass's first read
        return spark.createDataFrame(pd.DataFrame({"value": v}), schema).persist()

    def iteration(self, ctx: Ctx, i: int) -> IterResult:
        spark = ctx.spark
        srv = SketchTableServer(spark, self.decls)
        mpath = os.path.join(self.dir, f"metrics_{i}")
        ops: list[tuple[str, float]] = []
        cks: list[tuple[str, bool]] = []
        n_req = [0]

        def req(kind: str, fn):
            ctx.group(f"req-{i}-{n_req[0]}")
            n_req[0] += 1
            t = now()
            out = fn()
            ops.append((kind, now() - t))
            return out

        t0 = now()
        answers = {}
        for fam in FAMILIES:
            for b in (0, 1):
                req(f"update.{fam}", lambda: srv.update(f"{fam}_a", self.inputs[(fam, b)]))
            answers[fam] = req(f"query.{fam}", lambda: srv.query(f"{fam}_a").collect())
            cks.append((f"{fam} answer", self._check(fam, answers[fam], (0, 1))))
        for fam in ("theta", "hll"):
            req(f"update.{fam}", lambda: srv.update(f"{fam}_b", self.inputs[(fam, 2)]))
            req(f"update.{fam}", lambda: srv.update(f"{fam}_u", self.inputs[(fam, "u")]))
            req("merge", lambda: srv.merge(f"{fam}_ab", [f"{fam}_a", f"{fam}_b"]))
            m = req(f"query.{fam}", lambda: srv.query(f"{fam}_ab").collect())[0]["estimate"]
            u = req(f"query.{fam}", lambda: srv.query(f"{fam}_u").collect())[0]["estimate"]
            rse = checks.THETA_RSE if fam == "theta" else checks.HLL_RSE
            exact_u = len(np.unique(self.exact[(fam, "u")]))
            cks.append((f"{fam} merge = union stream",
                        checks.within_rse(m, exact_u, rse) and abs(m - u) <= checks.Z * rse * exact_u))
        for fam in ("theta", "kll"):
            img = req("serialize", lambda: srv.serialize(f"{fam}_a"))
            req("load_image", lambda: srv.load_image(f"{fam}_copy", img))
            c = req(f"query.{fam}", lambda: srv.query(f"{fam}_copy").collect())
            key = "estimate" if fam == "theta" else "quantiles"
            cks.append((f"{fam} serialize round trip", answers[fam][0][key] == c[0][key]))
        for e, (df, et, uid) in enumerate(self.events):
            req("append_epoch", lambda: streaming.append_metrics_batch(df, e, mpath))
            view = req("merged_view", lambda: streaming.merged_view(spark, mpath).collect())
            cks.append(("merged view", self._check_view(view, e)))
        wall = now() - t0
        if ctx.tracer is not None:
            self.epoch_bytes = dir_bytes(mpath) / len(self.events)
            self.jobs_per_req = statistics.median(
                tr.jobs_in_group(spark, f"req-{i}-{r}") for r in range(n_req[0])
            )
            self._bare(ctx)
        shutil.rmtree(mpath, ignore_errors=True)
        return IterResult(wall=wall, items=n_req[0], ops=ops, checks=cks)

    def end_to_end(self, iters: list[IterResult]) -> tuple[float, float]:
        """A pass of a closed loop lasts the sum of its request latencies,
        so run_s is the pass rebuilt from each request kind's median
        latency over every timed pass: a burst of host noise moves a few
        samples, not the estimate.  items_per_s is requests per second at
        that pass time."""
        by_kind: dict[str, list[float]] = {}
        for it in iters:
            for k, s in it.ops:
                by_kind.setdefault(k, []).append(s)
        per_pass = {k: len(v) / len(iters) for k, v in by_kind.items()}
        run_s = sum(per_pass[k] * statistics.median(v) for k, v in by_kind.items())
        return run_s, sum(per_pass.values()) / run_s

    def _check(self, fam: str, rows, batches) -> bool:
        v = np.concatenate([self.exact[(fam, b)] for b in batches])
        if fam in ("theta", "hll"):
            rse = checks.THETA_RSE if fam == "theta" else checks.HLL_RSE
            return checks.within_rse(rows[0]["estimate"], len(np.unique(v)), rse)
        if fam == "kll":
            r = rows[0]
            srt = np.sort(v)
            ok = int(r["stream_length"]) == len(v)
            for frac, q in zip((0.25, 0.5, 0.75), r["quantiles"]):
                rank = np.searchsorted(srt, q, side="right") / len(v)
                ok &= abs(rank - frac) <= checks.KLL_RANK_EPS
            return bool(ok)
        if fam == "frequency":
            items, counts = np.unique(v, return_counts=True)
            order = sorted(zip(-counts, items))[: len(rows)]
            want = [(str(it), float(-c)) for c, it in order]
            got = [(r["value"], r["estimate"]) for r in sorted(rows, key=lambda r: r["rank"])]
            return len(rows) == min(SketchConfig().frequency_top_k, len(items)) and got == want
        sample = rows[0]["items"]
        return len(sample) == min(32, len(v)) and set(sample) <= set(v.tolist())

    def _check_view(self, view, through: int) -> bool:
        et = np.concatenate([self.events[e][1] for e in range(through + 1)])
        uid = np.concatenate([self.events[e][2] for e in range(through + 1)])
        got = {r["event_type"]: r for r in view}
        for t in np.unique(et):
            r = got.get(f"type{t}")
            if r is None or r["n_events"] != int((et == t).sum()):
                return False
            if not checks.within_rse(r["distinct_items"], len(np.unique(uid[et == t])), checks.THETA_RSE):
                return False
        return True

    def _bare(self, ctx: Ctx) -> None:
        """Traced run: the same update / merge / query work through the
        bare functions.sketches calls, without the facade."""
        t = ctx.tracer
        cfgs = {"theta": SketchConfig(theta_lg_k=12), "hll": SketchConfig(hll_lg_k=12),
                "kll": SketchConfig(kll_k=200), "frequency": SketchConfig(sample_k=10),
                "reservoir": SketchConfig(sample_k=32)}
        for fam in FAMILIES:
            with t.span("sketches.update"):
                st = SK.sketch_update(self.inputs[(fam, 0)], [], "value", fam, cfgs[fam]).localCheckpoint()
            st2 = SK.sketch_update(self.inputs[(fam, 1)], [], "value", fam, cfgs[fam]).localCheckpoint()
            with t.span("sketches.merge"):
                merged = SK.sketch_merge(st.unionByName(st2), fam, (), cfgs[fam]).localCheckpoint()
            with t.span("sketches.query"):
                if fam in ("theta", "hll"):
                    SK.query_distinct(merged, fam, cfgs[fam]).collect()
                elif fam == "kll":
                    SK.query_quantiles(merged).collect()
                elif fam == "frequency":
                    SK.query_frequency(merged, top_k=10).collect()
                else:
                    merged.collect()

    def summary(self, iters):
        out = []
        ops = [o for it in iters for o in it.ops]
        for kind in ("update", "query"):
            xs = sorted(s for k, s in ops if k.startswith(kind + "."))
            n = len(xs)
            out.append((f"{kind}_p50_ms", 1000 * statistics.median(xs), "ms", f"n={n}"))
            # the highest percentile that leaves at least 10 samples above it
            if n >= 20:
                pct = min(0.9, 1 - 10 / n)
                out.append((f"{kind}_p90_ms", 1000 * float(np.quantile(xs, pct)), "ms",
                            f"reported at p{100 * pct:.0f}: n={n} supports no higher percentile"
                            if pct < 0.9 else f"n={n}"))
            else:
                out.append((f"{kind}_p90_ms", float("nan"), "ms", f"n={n} < 20: no tail percentile supported"))
        out.append(("requests_per_s", self.end_to_end(iters)[1], "1/s",
                    f"closed loop, 1 client, {len(iters)} timed passes"))
        return out

    def layer_metrics(self, ctx: Ctx, iters):
        t = ctx.tracer
        out: dict[str, float] = {}

        def ms(name):
            return 1000 * median_or_zero(s.dur for s in t.by_name(name))

        for fam in FAMILIES:
            out[f"server.update_ms.{fam}"] = 1000 * median_or_zero(
                s for k, s in (o for it in iters for o in it.ops) if k == f"update.{fam}")
            out[f"server.query_ms.{fam}"] = 1000 * median_or_zero(
                s for k, s in (o for it in iters for o in it.ops) if k == f"query.{fam}")
        out["server.merge_ms"] = ms("server.merge")
        out["server.serialize_ms"] = ms("server.serialize")
        out["server.load_image_ms"] = ms("server.load_image")
        out["spark.jobs_per_request"] = float(self.jobs_per_req)
        out["sketches.update_ms"] = ms("sketches.update")
        out["sketches.merge_ms"] = ms("sketches.merge")
        out["sketches.query_ms"] = ms("sketches.query")
        out["streaming.append_epoch_ms"] = ms("streaming.append_epoch")
        out["streaming.merged_view_ms"] = ms("streaming.merged_view")
        out["streaming.bytes_per_epoch"] = float(self.epoch_bytes)
        return out

    def teardown(self, ctx):
        for df in self.inputs.values():
            df.unpersist()
        for df, _, _ in self.events:
            df.unpersist()


WORKLOADS = {w.name: w for w in (Dedup, SketchServe)}
