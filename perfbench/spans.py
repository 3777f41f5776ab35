"""Out-of-library tracing for the benchmark's traced run.

Spans are recorded around calls into each layer's public functions by
rebinding those functions, at run time, in the modules that look them up
(``plans.pipeline`` resolves ``candidate_pairs`` through its own
globals, the harness resolves ``dedup_pipeline`` through the module, and
so on).  No file of the library changes.

Spark is lazy, so a wrapped call whose result is a DataFrame forces it
inside the span: persist plus count, released when the enclosing root
span (one benchmark iteration) ends.  Without that, a layer's span would
cover only plan construction and its work would land in whichever later
span first ran an action.

Spans stay in memory and are written to a JSON file at the end.  A span's
self time is its duration minus the time covered by its child spans.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Span recorder.  ``span`` is a context manager; ``patch`` rebinds a
    library function to a span-recording, result-forcing wrapper."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._forced: list = []  # DataFrames persisted at layer boundaries
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def start(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, parent, time.monotonic(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.monotonic()
        top = self._stack.pop()
        if top is not sp:
            raise RuntimeError(f"span nesting broken: closing {sp.name}, open {top.name}")
        if self._stack:
            self._stack[-1].child_s += sp.dur
        elif self._forced:
            # root span closed: release what the layer boundaries persisted
            for df in self._forced:
                df.unpersist()
            self._forced.clear()

    def span(self, name: str, **attrs):
        tracer = self

        class _Ctx:
            def __enter__(self_inner):
                self_inner.sp = tracer.start(name, **attrs)
                return self_inner.sp

            def __exit__(self_inner, *exc):
                tracer.finish(self_inner.sp)
                return False

        return _Ctx()

    # -- patching ------------------------------------------------------------
    def patch(self, owner: object, attr: str, span_name: str, force: bool = True,
              count_arg: int | None = None, release: bool = True) -> None:
        """Rebind ``owner.attr`` to a span-recording wrapper.

        force: persist + count a DataFrame result inside the span (rows
        land in the span's ``rows`` attribute).  count_arg: also count the
        positional argument at that index (an input size) before the call,
        outside the span.  release=False keeps a forced result cached past
        the root span, for results the caller persists and keeps itself."""
        from pyspark.sql import DataFrame

        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = {}
            if count_arg is not None and isinstance(args[count_arg], DataFrame):
                attrs["rows_in"] = args[count_arg].count()
            sp = tracer.start(span_name, **attrs)
            try:
                out = orig(*args, **kwargs)
                if force and isinstance(out, DataFrame):
                    out = out.persist()
                    sp.attrs["rows"] = out.count()
                    if release:
                        tracer._forced.append(out)
                return out
            finally:
                tracer.finish(sp)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- read-out ------------------------------------------------------------
    def by_name(self, name: str, root: int | None = None) -> list[Span]:
        """Spans called ``name``; with ``root``, only those under that span."""
        out = [s for s in self.spans if s.name == name]
        if root is not None:
            out = [s for s in out if self._under(s, root)]
        return out

    def _under(self, sp: Span, root: int) -> bool:
        p = sp.parent
        while p is not None:
            if p == root:
                return True
            p = self.spans[p].parent
        return False

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {
                            "id": s.sid, "name": s.name, "parent": s.parent,
                            "start": s.start, "end": s.end,
                            "self_s": s.self_s, "attrs": s.attrs,
                        }
                        for s in self.spans
                    ],
                    **extra,
                },
                f,
                indent=1,
            )


def install_setup_patches(tracer: Tracer) -> None:
    """Wrap the two set-up layers: session creation and input generation."""
    import datasketches_server_spark.session as session
    import datasketches_server_spark.sources.synth as synth

    tracer.patch(session, "get_spark", "session.get_spark", force=False)
    tracer.patch(synth, "synth_transcripts", "synth.generate", release=False)


def install_layer_patches(tracer: Tracer) -> None:
    """Wrap every other layer boundary the benchmark's workloads cross."""
    import datasketches_server_spark.plans.pipeline as pipeline
    import datasketches_server_spark.plans.metrics as metrics
    import datasketches_server_spark.plans.band_index as band_index
    import datasketches_server_spark.plans.queries as queries
    import datasketches_server_spark.operators.dedup as dedup
    import datasketches_server_spark.operators.prefix as prefix
    import datasketches_server_spark.streaming.incremental as streaming
    from datasketches_server_spark.server import SketchTableServer

    P = tracer.patch
    # inside the pipeline: names resolved through plans.pipeline's globals
    P(pipeline, "assemble_conversations", "text.assemble")
    P(pipeline, "conv_signatures", "signatures")
    P(pipeline, "band_buckets", "lsh.band")
    P(pipeline, "candidate_pairs", "lsh.candidates")
    P(pipeline, "incremental_candidate_pairs", "lsh.incremental_candidates")
    P(pipeline, "verify_pairs", "lsh.verify")
    P(pipeline, "connected_components", "components.cc", count_arg=0)
    P(pipeline, "incremental_components", "components.incremental")
    P(pipeline, "attach_singletons", "components.attach")
    P(pipeline, "dedup_pipeline", "pipeline.dedup", force=False)
    P(pipeline, "incremental_dedup", "pipeline.incremental", force=False)
    for fn in ("shingle_metrics", "simscore_metrics", "cluster_metrics", "global_rollup"):
        P(metrics, fn, f"metrics.{fn}")
    P(band_index, "read_band_index", "band_index.read")
    P(band_index, "append_band_index", "band_index.append", force=False)
    P(band_index, "write_band_index", "band_index.write", force=False)
    P(dedup, "cross_doc_duplicate_coverage", "dedup.exactsubstr")
    P(prefix, "turn_prefix_pairs", "prefix.pairs")
    P(queries, "q111_allpairs_ssjoin", "queries.q111")
    P(queries, "q127_winnowing_pairs", "queries.q127")
    P(streaming, "append_metrics_batch", "streaming.append_epoch", force=False)
    P(streaming, "merged_view", "streaming.merged_view")
    # the facade's endpoints; their results are forced by the client
    for m in ("update", "query", "merge", "serialize", "load_image"):
        P(SketchTableServer, m, f"server.{m}", force=False)


def self_time(spans: list[Span]) -> float:
    return sum(s.self_s for s in spans)


def dur(spans: list[Span]) -> float:
    return sum(s.dur for s in spans)


def jobs_in_group(spark, group: str) -> int:
    """Spark jobs run under a job group the harness set."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def tree_rss_mb(root_pid: int, seen: dict[int, int]) -> float:
    """Sum of VmHWM (peak resident set) over every descendant process of
    ``root_pid`` -- the driver JVM and its Python workers.  ``seen`` keeps
    each pid's highest reading, so workers that exit between samples still
    count.  Read from /proc: psutil is not a dependency."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    todo = list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb = int(line.split()[1])
                        seen[pid] = max(seen.get(pid, 0), kb)
                        break
        except OSError:
            continue
    return sum(seen.values()) / 1024.0
