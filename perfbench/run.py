"""The repository's benchmark of record.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The workload's inputs are generated
from ``--seed``; after set-up (session, inputs, untimed warm
iterations) the workload runs timed iterations for ``--seconds``, checks
every output, prints its metrics by name with their units, and ends with
one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
same untimed-then-timed flow, then repeats the timed loop with a span
around every layer call (see spans.py) and reports the per-layer metrics,
including the tracing overhead against the untraced loop of the same run.
Spans and counters go to ``.perfbench_work/trace-<workload>-<seed>.json``.

Workloads, metrics and the reasons behind them: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
APP_NAME = "perfbench"  # any name but "bench": no bench-only session warm-up
DRIVER_MEMORY = "3g"

UNITS = {"setup_s": "s", "run_s": "s", "items_per_s": "1/s"}

FAMILIES = ("theta", "hll", "kll", "frequency", "reservoir")
# name -> unit; every name is printed on every traced run (0 where the
# workload does not reach that layer)
PER_LAYER = {
    "session.get_spark_s": "s",
    "synth.generate_s": "s",
    "text.assemble_s": "s",
    "signatures.s": "s",
    "signatures.convs_per_s": "1/s",
    "lsh.band_s": "s",
    "lsh.band_rows": "count",
    "lsh.candidates_s": "s",
    "lsh.candidate_pairs": "count",
    "lsh.max_bucket": "count",
    "lsh.star_buckets": "count",
    "lsh.dropped_members": "count",
    "lsh.verify_s": "s",
    "lsh.verified_edges": "count",
    "lsh.verify_yield": "ratio",
    "lsh.incremental_candidates_s": "s",
    "lsh.window_input_rows": "count",
    "components.s": "s",
    "components.edges_in": "count",
    "components.clusters": "count",
    "components.contracted_edges": "count",
    "metrics.rollup_s": "s",
    "band_index.read_s": "s",
    "band_index.append_s": "s",
    "ingest.absorb_s": "s",
    "ingest.bytes_written_per_input_byte": "ratio",
    "pipeline.incremental_self_s": "s",
    "spark.jobs_per_batch": "count",
    **{f"server.update_ms.{f}": "ms" for f in FAMILIES},
    **{f"server.query_ms.{f}": "ms" for f in FAMILIES},
    "server.merge_ms": "ms",
    "server.serialize_ms": "ms",
    "server.load_image_ms": "ms",
    "spark.jobs_per_request": "count",
    "sketches.update_ms": "ms",
    "sketches.merge_ms": "ms",
    "sketches.query_ms": "ms",
    "streaming.append_epoch_ms": "ms",
    "streaming.merged_view_ms": "ms",
    "streaming.bytes_per_epoch": "bytes",
    "dedup.exactsubstr_s": "s",
    "dedup.exactsubstr_rows": "count",
    "prefix.pairs_s": "s",
    "prefix.pairs_rows": "count",
    "queries.q111_s": "s",
    "queries.q111_rows": "count",
    "queries.q127_s": "s",
    "queries.q127_rows": "count",
    "process.peak_rss_mb": "MB",
    "trace.untraced_run_s": "s",
    "trace.traced_run_s": "s",
    "trace.overhead_s": "s",
}


def configure_environment(work: str) -> int:
    """Fit the session to the host and keep every file it writes inside
    ``work``.  Must run before pyspark starts the JVM.  Returns the core
    count."""
    cores = len(os.sched_getaffinity(0))
    # library defaults only: no bench-scale warm-up, no tuning overrides
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]
    # the session's own operator warm-up (10-25 s here, and it reads
    # fixture directories outside the checkout) is switched off with the
    # library's documented opt-out; each workload warms exactly the shapes
    # it times in its untimed warm iterations, which setup_s includes
    os.environ["SPARK_GRAFT_WARMUP"] = "0"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides the session's spark.local.dir
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell"
    )
    return cores


def stop_jvm() -> None:
    """End the JVM pyspark launched, and its Python workers with it: the
    JVM exits when its stdin closes.  Waits until it has."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove_work(work: str, work_root: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(work_root)  # only if no other run or trace file is in it
    except OSError:
        pass


def print_rows(title: str, rows) -> None:
    print(f"-- {title}")
    for name, value, unit, note in rows:
        print(f"   {name:40s} {value:>14.6g} {unit:6s} {note}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    cores = configure_environment(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        import datasketches_server_spark.session as session
        import spans
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        remove_work(work, work_root)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        remove_work(work, work_root)
        return 2

    tracer = spans.Tracer() if args.trace else None
    if tracer is not None:
        spans.install_setup_patches(tracer)
    rss_seen: dict[int, int] = {}
    spark = None
    try:
        spark = session.get_spark(APP_NAME, cores=cores)
        ctx = workloads.Ctx(spark=spark, seed=args.seed, work=work)
        wl = workloads.WORKLOADS[args.workload]()
        attempted = failed = 0
        wl.setup(ctx)
        for w in range(wl.warm_iters):
            r = wl.iteration(ctx, -1 - w)
            attempted += len(r.ops)
            failed += sum(1 for _, ok in r.checks if not ok)
        setup_s = time.monotonic() - t_start
        spans.tree_rss_mb(os.getpid(), rss_seen)

        def timed_loop(traced: bool) -> list:
            nonlocal attempted, failed
            iters = []
            t0 = time.monotonic()
            while not iters or time.monotonic() - t0 < args.seconds:
                if traced:
                    # the root span: layer outputs forced inside it are
                    # released when it closes
                    with tracer.span("iteration"):
                        r = wl.iteration(ctx, len(iters))
                else:
                    r = wl.iteration(ctx, len(iters))
                iters.append(r)
                attempted += len(r.ops)
                failed += sum(1 for _, ok in r.checks if not ok)
                spans.tree_rss_mb(os.getpid(), rss_seen)
            return iters

        iters = timed_loop(traced=False)
        traced = []
        if tracer is not None:
            ctx.tracer = tracer
            spans.install_layer_patches(tracer)
            traced = timed_loop(traced=True)
            tracer.unpatch()
            ctx.tracer = None
        t_checks = time.monotonic()
        final = wl.final_checks(ctx)
        checks_s = time.monotonic() - t_checks
        attempted += len(final)
        failed += sum(1 for _, ok, _ in final if not ok)
        peak_rss = spans.tree_rss_mb(os.getpid(), rss_seen)

        run_s, items_per_s = wl.end_to_end(iters)
        e2e = {"setup_s": setup_s, "run_s": run_s, "items_per_s": items_per_s}
        print(f"perfbench {args.workload} seed={args.seed} cores={cores} "
              f"driver_memory={DRIVER_MEMORY} timed_iterations={len(iters)}")
        print_rows("end-to-end", [
            (k, v, UNITS[k], f"items = {wl.item_unit}" if k == "items_per_s" else "")
            for k, v in e2e.items()
        ])
        print_rows("workload metrics", wl.summary(iters) + [
            ("failed_frac", failed / max(attempted, 1), "ratio", f"{failed} of {attempted} operations"),
            ("peak_rss_mb", peak_rss, "MB", "VmHWM summed over the driver JVM and its Python workers"),
        ])
        print(f"-- checks ({checks_s:.1f} s, untimed)")
        for name, ok, detail in final:
            print(f"   {'ok  ' if ok else 'FAIL'} {name}: {detail}")

        if tracer is not None:
            ctx.tracer = tracer
            layer = {k: 0.0 for k in PER_LAYER}
            layer.update(wl.layer_metrics(ctx, traced))
            ctx.tracer = None
            layer["session.get_spark_s"] = spans.dur(tracer.by_name("session.get_spark"))
            layer["synth.generate_s"] = spans.dur(
                [s for s in tracer.by_name("synth.generate") if s.parent is None])
            traced_s = wl.end_to_end(traced)[0]
            layer["process.peak_rss_mb"] = peak_rss
            layer["trace.untraced_run_s"] = run_s
            layer["trace.traced_run_s"] = traced_s
            layer["trace.overhead_s"] = traced_s - run_s
            unknown = set(layer) - set(PER_LAYER)
            if unknown:
                raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
            path = os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(path, {"workload": args.workload, "seed": args.seed, "metrics": layer})
            print_rows(f"per-layer (traced, {len(traced)} iterations; spans in {path})",
                       [(k, v, PER_LAYER[k], "") for k, v in layer.items()])
            metrics = {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in layer.items()}
        else:
            metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in e2e.items()}
        wl.teardown(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        remove_work(work, work_root)
        # the session's catalog creates its warehouse dir even when unused
        shutil.rmtree(f"/tmp/spark-warehouse-{os.getuid()}-{os.getpid()}", ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
