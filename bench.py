"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headliners:
* dedup_synth      -- full pipeline on the deterministic planted corpus
                      (~10 turns/conv); the north-rule workload
* dedup_documents  -- full pipeline over the testdata documents table
* sketch_rollup    -- per-bucket theta/KLL/HLL metric tables + global merge
* relational q01/q02, cosine_topk/ann -- operator coverage timings

Extra keys (throughput_turns_per_sec, n_turns) feed BASELINE.md's
scaling protocol; tools/bench_scaling.py runs this same workload at two
parallelism levels.

Probe gating (round-4 task #4): the shared VM's co-tenant noise made
round-3's dedup_synth +-5% unattributable, so the bench now uses the
same certified-quiet protocol as BENCH_scaling -- every dedup_synth
attempt is BRACKETED by pure-numpy cpu_ceiling probes (tools/
cpu_ceiling.py) and accepted only when both sides clear the gate
(default 0.9); up to $SPARK_GRAFT_BENCH_ATTEMPTS tries, best wall kept,
with the certification status in the output.  The whole bench is
additionally bracketed for context.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from datasketches_server_spark.config import PipelineConfig, ShingleConfig
from datasketches_server_spark.plans import queries as Q
from datasketches_server_spark.plans.metrics import (
    cluster_metrics,
    global_rollup,
    shingle_metrics,
    simscore_metrics,
)
from datasketches_server_spark.plans.pipeline import dedup_pipeline
from datasketches_server_spark.session import get_spark
from datasketches_server_spark.sources.synth import (
    synth_transcripts,
    transcripts_from_documents,
)


def _quick_ceiling() -> tuple[float, float]:
    """~10 s pure-numpy concurrency probe.  Returns (ceiling, abs_wall):

    * ceiling -- the hard upper bound any 2-vs-8-process job can show on
      this box right now (>= ~0.9 means little CONCURRENCY tax);
    * abs_wall -- 2-process wall seconds per 1000 kernel reps, an
      ABSOLUTE machine-speed marker.  The ratio gate cannot see a
      UNIFORMLY slow machine (co-tenant memory-bandwidth pressure slows
      every level alike) -- proven in round 4, where the round-3 code
      re-measured 24.3 s on the same corpus that its round-3 record
      shows at 15.4 s while every ceiling probe read quiet.  Cross-round
      comparisons must normalize by this marker or A/B both codes in
      the same epoch.

    Round-5: probe_median (3 s kernels, median process wall, ratios from
    time-adjacent level pairs) replaces the single/mean-sample probe --
    the old estimator read 0.65-1.46 back-to-back on an IDLE box (one
    scheduler-stalled process among k=2's two samples swings the mean
    25%), which failed certification in genuinely quiet epochs."""
    from tools.cpu_ceiling import probe_median as cpu_probe

    r = cpu_probe(levels=(2, 8), secs_per_rep=3.0, repeats=3)
    return r["efficiency_ceiling_2to8"], r["abs_wall_per_krep"]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", str(max(2000, int(1_000_000 * sf)))))
    gate = float(os.environ.get("SPARK_GRAFT_PROBE_GATE", "0.9"))
    max_attempts = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "3")))

    bench_pre_ceiling = _quick_ceiling()
    # same-scale session warm-up (capped to bound the untimed setup)
    os.environ.setdefault("SPARK_GRAFT_WARM_CONVS", str(min(100_000, n_convs)))
    spark = get_spark("bench", cores=cores)
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        t0 = time.monotonic()
        fn()
        timings[name] = round(time.monotonic() - t0, 3)

    # warm the JVM/Arrow paths so timings measure the plan, not startup
    spark.range(1000).select(F.xxhash64("id")).count()

    transcripts = synth_transcripts(spark, n_convs=n_convs, seed=42).persist()
    n_turns = transcripts.count()
    extra["n_turns"] = n_turns
    extra["n_convs"] = n_convs

    state = {}

    def run_dedup_synth():
        res = dedup_pipeline(transcripts, PipelineConfig())
        state["res"] = res
        extra["n_clusters"] = res.clusters.select("cluster_id").distinct().count()

    # headline measurement, probe-gated: bracket every attempt with
    # cpu_ceiling probes; accept the first attempt whose both brackets
    # clear the gate, else keep the best wall and mark uncertified
    best_wall = None
    certified = False
    attempts = 0
    probes: list[list[float]] = []
    for _ in range(max_attempts):
        pre, pre_abs = _quick_ceiling()
        if state.get("res") is not None:
            state["res"].unpersist()
        t0 = time.monotonic()
        run_dedup_synth()
        wall = time.monotonic() - t0
        post, post_abs = _quick_ceiling()
        attempts += 1
        probes.append([pre, post, pre_abs, post_abs])
        if best_wall is None or wall < best_wall:
            best_wall = wall
        if pre >= gate and post >= gate:
            certified = True
            best_wall = wall  # a certified wall beats a faster noisy one
            break
    timings["dedup_synth"] = round(best_wall, 3)
    extra["dedup_synth_certified"] = certified
    extra["dedup_synth_attempts"] = attempts
    extra["dedup_synth_probes"] = probes
    extra["probe_gate"] = gate
    extra["throughput_turns_per_sec"] = round(n_turns / timings["dedup_synth"], 1)

    def run_sketch_rollup():
        res = state["res"]
        row = global_rollup(
            shingle_metrics(res.conv_state),
            simscore_metrics(res.edges),
            cluster_metrics(res.clusters),
        ).collect()[0]
        extra["distinct_shingles"] = int(row["distinct_shingles"])

    timed("sketch_rollup", run_sketch_rollup)

    def run_prefix_dedup():
        """Turn-aligned prefix/containment dedup over the full synth
        corpus: one window pass + one composite-key equi-join + exact
        text verify (operators/prefix.py)."""
        from datasketches_server_spark.operators.prefix import turn_prefix_pairs

        extra["prefix_pairs"] = turn_prefix_pairs(transcripts).count()

    timed("prefix_dedup_synth", run_prefix_dedup)

    # deployment-warm setup for the incremental headline (untimed, like
    # the cached conv_state): a real ingest pipeline has the band index
    # ON DISK from the previous absorb -- writing it here is the analog
    # of that standing state, so the timed batch measures the indexed
    # probe path (BENCH_incremental.json's fastest tier), not the
    # O(corpus) on-the-fly band fallback.
    import shutil
    import tempfile

    from datasketches_server_spark.plans.band_index import (
        read_band_index,
        write_band_index,
    )

    bench_workdir = tempfile.mkdtemp(prefix="bench_bandidx_")
    write_band_index(state["res"].conv_state, bench_workdir, PipelineConfig(), "bench")

    def run_incremental_batch():
        """~1% fresh batch folded into the just-built corpus via the
        incremental path (persisted-index probe + member pushdown +
        delta CC) -- the daily-ingest headline, measured while the
        corpus state is warm the way a deployment's would be."""
        from datasketches_server_spark.plans.pipeline import incremental_dedup

        res = state["res"]
        cfg = PipelineConfig()
        batch = synth_transcripts(
            spark, n_convs=max(50, n_convs // 100), seed=4242
        ).withColumn("conv_id", F.concat(F.lit("inc-"), F.col("conv_id")))
        inc = incremental_dedup(
            res.conv_state, res.edges, batch, cfg,
            old_buckets=read_band_index(spark, bench_workdir, cfg, "bench"),
            old_clusters=res.clusters,
        )
        extra["incremental_batch_clusters"] = inc.clusters.select(
            "cluster_id"
        ).distinct().count()
        extra["incremental_batch_mode"] = "indexed"
        inc.unpersist()

    timed("incremental_1pct_batch", run_incremental_batch)
    shutil.rmtree(bench_workdir, ignore_errors=True)
    state["res"].unpersist()

    def run_dedup_documents():
        res = dedup_pipeline(
            transcripts_from_documents(spark, sf_dir),
            PipelineConfig(shingle=ShingleConfig(k=3)),
        )
        res.clusters.count()
        res.unpersist()

    timed("dedup_documents", run_dedup_documents)

    def run_exactsubstr():
        """ExactSubstr cross-document duplicate coverage over the sf
        documents table, SCALE tier (windows keyed by xxhash64 so only
        narrow longs shuffle -- the 10^12-token shape; the exact
        string-keyed tier is what q47's oracle replays)."""
        from datasketches_server_spark.operators.dedup import cross_doc_duplicate_coverage

        d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        r = (
            cross_doc_duplicate_coverage(d, window=8, exact=False)
            .agg(F.sum("dup_tokens").alias("d"), F.sum("n_tokens").alias("n"))
            .collect()[0]
        )
        extra["exactsubstr_dup_tokens"] = int(r["d"])
        extra["exactsubstr_total_tokens"] = int(r["n"])

    timed("exactsubstr_documents", run_exactsubstr)
    timed("q01_pricing_summary", lambda: Q.q01_pricing_summary(spark, sf_dir).collect())
    timed("q02_top_revenue_customers", lambda: Q.q02_top_revenue_customers(spark, sf_dir).collect())
    timed("q05_events_hourly", lambda: Q.q05_events_hourly(spark, sf_dir).count())
    timed("q30_cosine_topk", lambda: Q.q30_cosine_topk(spark, sf_dir).collect())
    timed("q31_ann_lsh_cosine", lambda: Q.q31_ann_lsh_cosine(spark, sf_dir).collect())
    timed("q111_allpairs_ssjoin", lambda: Q.q111_allpairs_ssjoin(spark, sf_dir).collect())
    timed("q127_winnowing_pairs", lambda: Q.q127_winnowing_pairs(spark, sf_dir).collect())

    spark.stop()
    post_ceiling, post_abs = _quick_ceiling()
    extra["bench_cpu_ceiling"] = [bench_pre_ceiling[0], post_ceiling]
    # absolute 2-proc wall per 1000 kernel reps: the cross-round
    # machine-speed normalizer (see _quick_ceiling)
    extra["bench_abs_wall_per_krep"] = [bench_pre_ceiling[1], post_abs]

    total = round(sum(timings.values()), 3)
    # attach the latest two-parallelism evidence (tools/bench_scaling.py)
    scaling = {}
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_scaling.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            s = json.load(f)["summary"]
        scaling = {
            "scaling_efficiency_Nto4N": s["value"],
            "scaling_n_cores": s["n_cores"],
            "scaling_4n_cores": s["4n_cores"],
            "scaling_throughput_n": s["throughput_n"],
            "scaling_throughput_4n": s["throughput_4n"],
        }
    print(
        json.dumps(
            {
                "metric": "e2e_headline_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cores": cores,
                **extra,
                **scaling,
            }
        )
    )


if __name__ == "__main__":
    main()
