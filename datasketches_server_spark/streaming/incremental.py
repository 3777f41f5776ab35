"""Structured Streaming tier: continuous sketch-metric ingestion.

The reference is conceptually a streaming aggregator -- unbounded
/update stream, queryable state (README.md:159-166) -- with no event
time or windows.  Here the same capability is Structured Streaming over
event-time windows: sketch aggregates ARE Spark aggregate functions, so
they run under watermarks with partial/final aggregation like any agg.

Two modes:

* :func:`windowed_sketch_stream` -- watermarked tumbling-window sketch
  aggregation (theta distincts + counts per window x key).
* :func:`append_metrics_foreachBatch` -- the accumulator pattern
  (README.md:377-379): each micro-batch appends per-batch sketch rows to
  a metrics table; readers merge at query time with ``*_union_agg``.
  Exactly the reference's update -> merge -> query loop, minus the server.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SketchConfig


def windowed_sketch_stream(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    item_col: str = "user_id",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
    cfg: SketchConfig = SketchConfig(),
) -> DataFrame:
    """Streaming DF in -> windowed sketch metrics out (append mode)."""
    # watermarks need session-TZ TIMESTAMP; parquet often yields TIMESTAMP_NTZ
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), key_col)
        .agg(
            F.theta_sketch_agg(item_col, cfg.theta_lg_k).alias("theta_items"),
            F.kll_sketch_agg_float(F.col(value_col).cast("float"), cfg.kll_k).alias("kll_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "theta_items",
            "kll_value",
            "n_events",
        )
    )


def append_metrics_batch(
    batch: DataFrame,
    epoch_id: int,
    out_path: str,
    key_col: str = "event_type",
    item_col: str = "user_id",
    cfg: SketchConfig = SketchConfig(),
) -> None:
    """One micro-batch's partial sketches, written EXACTLY-ONCE: the
    output is partitioned by epoch_id and written with dynamic partition
    overwrite, so a Structured Streaming epoch RETRY (foreachBatch is
    at-least-once) replaces its own partition instead of appending a
    duplicate -- the merged estimate is idempotent under replay."""
    (
        batch.groupBy(key_col)
        .agg(
            F.theta_sketch_agg(item_col, cfg.theta_lg_k).alias("theta_items"),
            F.count("*").alias("n_events"),
        )
        .withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(out_path)
    )


def append_metrics_foreachBatch(
    stream: DataFrame,
    out_path: str,
    key_col: str = "event_type",
    item_col: str = "user_id",
    cfg: SketchConfig = SketchConfig(),
):
    """writeStream.foreachBatch sink: per-batch partial sketches appended
    to a parquet/Iceberg metrics table (idempotent per epoch -- see
    append_metrics_batch).  Mergeability makes the append log queryable
    at any time: estimate = theta_union_agg over all rows."""

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        append_metrics_batch(batch, epoch_id, out_path, key_col, item_col, cfg)

    return stream.writeStream.foreachBatch(_sink)


def streaming_exact_dedup(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
):
    """Custom stateful operator (applyInPandasWithState): continuous
    exact dedup -- emit only the FIRST occurrence of each normalized-
    text fingerprint across the whole stream.

    State layout: groups are fingerprint buckets (pmod(fp, n_buckets)),
    each holding its seen-fingerprint set -- so state shards evenly
    across executors regardless of key skew, and a bucket's state size
    is |distinct docs|/n_buckets longs.  At 10^12 turns, n_buckets
    scales up and state stays bounded per task; this is the streaming
    tier of operators/dedup.exact_dedup (same fingerprint64).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions.text import fingerprint64

    tagged = stream.withColumn("_fp", fingerprint64(F.col(text_col))).withColumn(
        "_bucket", F.pmod(F.col("_fp"), F.lit(n_buckets)).cast("int")
    )
    out_schema = f"{id_col} string, {text_col} string, _fp long"
    state_schema = "fps array<long>"

    def dedup_fn(key, pdf_iter, state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdf_iter:
            keep = []
            for fp in pdf["_fp"]:
                fp = int(fp)
                if fp in seen:
                    keep.append(False)
                else:
                    seen.add(fp)
                    keep.append(True)
            out = pdf.loc[keep, [id_col, text_col, "_fp"]]
            if len(out):
                yield out
        state.update((list(seen),))

    return (
        tagged.select(id_col, text_col, "_fp", "_bucket")
        .withColumn(id_col, F.col(id_col).cast("string"))
        .groupBy("_bucket")
        .applyInPandasWithState(
            dedup_fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def streaming_near_dup_pairs(
    conv_stream: DataFrame,
    shingle_k: int = 3,
    bands: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.7,
    bucket_cap: int = 256,
    state_ttl_minutes: int | None = None,
):
    """Continuous near-duplicate detection (applyInPandasWithState):
    the streaming tier of the LSH pipeline.

    Input: a stream of assembled conversations (conv_id, full_text) --
    turn assembly for streams is an upstream watermarked groupBy.  Each
    conv's MinHash signature is banded exactly like the batch pipeline
    (operators/lsh.py); per band-bucket STATE holds the (conv_id,
    minhash) of previously seen members, so a near-dup pair is emitted
    the moment its second member arrives -- across micro-batches.

    Skew discipline carries over: state per bucket is capped at
    bucket_cap members (deterministic arrival order; drops mean a
    mega-family stops emitting new pairs once capped, exactly the
    bounded-candidates behavior of the batch star-edges).  Pairs carry
    the MinHash jaccard ESTIMATE (signature agreement); exact verify
    joins downstream if needed.  A pair colliding in several buckets is
    emitted once per bucket; dedup with .dropDuplicates(["a","b"]) per
    output window downstream.

    state_ttl_minutes: optional eviction policy for unbounded streams --
    a band bucket that receives no new member for this long drops its
    state (processing-time timeout), so cold buckets don't pin executor
    state forever; near-dups separated by more than the TTL are then
    deliberately not detected (the usual streaming-dedup horizon
    contract).  None = keep state forever.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..config import MinHashConfig
    from ..functions.signatures import text_signature_udf

    sig = text_signature_udf(shingle_k, MinHashConfig(num_perm=bands * rows_per_band))
    sigs = conv_stream.withColumn("_sig", sig(F.col("full_text"))).select(
        F.col("conv_id").cast("string").alias("conv_id"), F.col("_sig.minhash").alias("minhash")
    )
    band_idx = F.posexplode(F.sequence(F.lit(0), F.lit(bands - 1)))
    buckets = sigs.select(
        "conv_id", "minhash", band_idx.alias("_p", "band_idx")
    ).select(
        "conv_id",
        "minhash",
        F.xxhash64(
            F.col("band_idx"),
            F.slice(F.col("minhash"), F.col("band_idx") * rows_per_band + 1, rows_per_band),
        ).alias("bucket"),
    )
    out_schema = "a string, b string, est_jaccard double, bucket long"
    # state holds signatures as ONE flat row-major long array
    # (cnt * num_perm), not list-of-lists: the nested layout round-
    # tripped cap x perm Python ints per group per batch; the flat
    # layout converts through numpy in one C-level pass each way
    state_schema = "ids array<string>, sigs array<long>"
    num_perm = bands * rows_per_band

    match_fn = make_near_dup_match_fn(num_perm, threshold, bucket_cap, state_ttl_minutes)
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return buckets.groupBy("bucket").applyInPandasWithState(
        match_fn, out_schema, state_schema, "append", timeout
    )


def make_near_dup_match_fn(
    num_perm: int, threshold: float, bucket_cap: int, state_ttl_minutes: float | None
):
    """The per-band-bucket stateful kernel of streaming_near_dup_pairs,
    exposed for direct unit testing (eviction needs a timed-out GroupState,
    which a live processAllAvailable test can't produce deterministically:
    ProcessingTimeTimeout keeps scheduling no-data batches, so
    processAllAvailable never settles)."""
    import numpy as np
    import pandas as pd

    def match_fn(key, pdf_iter, state):
        if state.hasTimedOut:
            # TTL eviction: this bucket went cold -- drop its members
            state.remove()
            return
        if state.exists:
            ids, flat = state.get
            ids = list(ids)
            # Arrow-native state layout: ONE flat row-major long array,
            # decoded in a single C-level pass (vs per-row list(map(int,
            # ...)) round-trips in the nested layout)
            stored = np.asarray(flat, dtype=np.int64).reshape(-1, num_perm)
        else:
            ids, stored = [], None
        cnt = len(ids)
        # ONE preallocated buffer per group per batch: members append by
        # index -- no per-row np.vstack copies.  Sized to max(cnt,
        # bucket_cap): restored state LARGER than bucket_cap (cap
        # lowered across a restart) degrades gracefully -- oversized
        # members keep matching, no new members are stored past the cap
        # -- instead of crashing the query on a broadcast-shape error.
        buf = np.empty((max(cnt, bucket_cap), num_perm), dtype=np.int64)
        if cnt:
            buf[:cnt] = stored
        out_rows = []
        for pdf in pdf_iter:
            for conv_id, mh in zip(pdf["conv_id"], pdf["minhash"]):
                v = np.asarray(mh, dtype=np.int64)
                if cnt:
                    est = (buf[:cnt] == v[None, :]).mean(axis=1)
                    for j in np.flatnonzero(est >= threshold):
                        a, b = sorted((ids[j], conv_id))
                        out_rows.append((a, b, float(est[j]), int(key[0])))
                if cnt < bucket_cap:
                    ids.append(conv_id)
                    buf[cnt] = v
                    cnt += 1
        state.update((ids, buf[:cnt].ravel().tolist()))
        if state_ttl_minutes is not None:
            state.setTimeoutDuration(int(state_ttl_minutes * 60_000))
        if out_rows:
            yield pd.DataFrame(out_rows, columns=["a", "b", "est_jaccard", "bucket"])

    return match_fn


def near_dup_pairs_batch(batch: DataFrame, epoch_id: int, out_path: str) -> None:
    """One micro-batch of candidate pairs, written EXACTLY-ONCE (verdict
    r4 #7): same epoch-partitioned dynamic-overwrite pattern as
    append_metrics_batch -- a Structured Streaming epoch RETRY
    (foreachBatch is at-least-once) replaces its own partition instead
    of appending replay duplicates.  Reader-side dropDuplicates remains
    for the SEMANTIC duplicates (one pair surfacing from several band
    buckets / epochs), but replay no longer inflates the log."""
    (
        batch.withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(out_path)
    )


def near_dup_pairs_foreachBatch(pair_stream: DataFrame, out_path: str):
    """writeStream.foreachBatch sink for streaming_near_dup_pairs output:
    idempotent per epoch (see near_dup_pairs_batch)."""

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        near_dup_pairs_batch(batch, epoch_id, out_path)

    return pair_stream.writeStream.foreachBatch(_sink)


def read_near_dup_pairs(spark: SparkSession, out_path: str) -> DataFrame:
    """Query view over the pair sink: one row per (a, b) with the first
    epoch that surfaced it and the best signature-agreement estimate.
    Cross-epoch/cross-bucket duplicates of the SAME pair are legitimate
    emissions (different band buckets fire independently); this is the
    semantic dedup, distinct from the replay idempotence the epoch
    overwrite already guarantees."""
    return (
        spark.read.parquet(out_path)
        .groupBy("a", "b")
        .agg(
            F.max("est_jaccard").alias("est_jaccard"),
            F.min("epoch_id").alias("first_epoch"),
        )
    )


def verify_near_dup_pairs(
    pairs: DataFrame,
    conv_state: DataFrame,
    threshold: float = 0.7,
) -> DataFrame:
    """Downstream exact verification for :func:`streaming_near_dup_pairs`
    output -- the documented ``dropDuplicates + exact-verify`` join as a
    function, so the streaming tier has the same no-false-positives
    option as the batch pipeline (emitted pairs carry only the MinHash
    ESTIMATE; signature agreement can over- or under-shoot the true
    jaccard).

    pairs: (a, b, ...) -- e.g. a collected output window or a
    foreachBatch micro-batch of the streaming query; the same pair
    emitted from several band buckets is deduplicated here.
    conv_state: per-conv state WITH a ``shingles`` column at the same
    shingle config the stream used (plans/pipeline.conv_signatures over
    the archived conversations, or the lineage signatures stage).

    Returns (a, b, jaccard[, hamming]) with jaccard the EXACT value,
    filtered at ``threshold`` -- zero false positives by construction.
    """
    from ..config import LshConfig
    from ..operators.lsh import verify_pairs

    uniq = pairs.select("a", "b").dropDuplicates(["a", "b"])
    return verify_pairs(
        uniq, conv_state, LshConfig(jaccard_threshold=threshold), tier="exact"
    )


def decontam_batch(
    batch: DataFrame,
    epoch_id: int,
    eval_state: DataFrame,
    out_clean: str,
    out_flagged: str,
    cfg=None,
) -> None:
    """Ingest-time decontamination for ONE micro-batch of transcript
    turns: conversations that near-duplicate the fixed eval suite are
    diverted to ``out_flagged`` (as verified pairs with jaccard
    evidence), the rest land in ``out_clean`` -- contaminated data never
    reaches the training corpus in the first place, the streaming
    complement of the batch `--decontam-input` sweep.

    eval_state: the eval suite's signatures, computed ONCE
    (plans/pipeline.conv_signatures) and reused every epoch -- the per-
    epoch cost is batch-signing + a broadcast probe of the small eval
    band rows (plans/pipeline.cross_corpus_near_dups shape).

    Both sinks use the exactly-once epoch-partitioned dynamic overwrite
    (same pattern as append_metrics_batch): a foreachBatch epoch RETRY
    replaces its own partition instead of appending replay duplicates.
    """
    from ..config import DEFAULT_CONFIG
    from ..plans.pipeline import cross_corpus_near_dups

    cfg = cfg or DEFAULT_CONFIG
    pairs = cross_corpus_near_dups(batch, None, cfg, eval_state=eval_state)
    flagged = pairs.select(F.col("train_conv_id").alias("conv_id")).distinct()
    clean = batch.join(F.broadcast(flagged), "conv_id", "left_anti")
    (
        pairs.withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(out_flagged)
    )
    (
        clean.withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(out_clean)
    )


def streaming_decontam_foreachBatch(
    stream: DataFrame,
    eval_state: DataFrame,
    out_clean: str,
    out_flagged: str,
    cfg=None,
):
    """writeStream.foreachBatch wrapper over :func:`decontam_batch`:
    ``streaming_decontam_foreachBatch(stream, eval_state, c, f).start()``.
    """

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        decontam_batch(batch, epoch_id, eval_state, out_clean, out_flagged, cfg)

    return stream.writeStream.foreachBatch(_sink)


# base (compacted) rows live in this epoch partition; real epochs are >= 0
BASE_EPOCH = -1


def _read_metrics(spark: SparkSession, metrics_path: str) -> DataFrame:
    """Read the append log; base rows carry an extra compacted_through
    column the tail epochs lack -- mergeSchema unifies (tail gets null)."""
    m = spark.read.option("mergeSchema", "true").parquet(metrics_path)
    if "compacted_through" not in m.columns:
        m = m.withColumn("compacted_through", F.lit(None).cast("long"))
    return m


def _base_watermark(m: DataFrame) -> int | None:
    """Highest epoch folded into the base partition (None = no base).
    The scan is partition-pruned to epoch_id == BASE_EPOCH -- one tiny
    file, not the tail."""
    row = (
        m.where(F.col("epoch_id") == BASE_EPOCH)
        .agg(F.max("compacted_through").alias("w"))
        .collect()[0]
    )
    return None if row["w"] is None else int(row["w"])


def _has_base(spark: SparkSession, metrics_path: str) -> bool:
    """Whether the base partition exists: a file-system lookup through
    the session's Hadoop FileSystem, no Spark job."""
    path = spark._jvm.org.apache.hadoop.fs.Path(metrics_path, f"epoch_id={BASE_EPOCH}")
    return path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path)


def _cleanup_epochs(metrics_path: str, through_epoch: int) -> int:
    """Drop epoch partitions already folded into the base row.  Local-FS
    listing here; on a real warehouse this is the table format's
    drop-partition / expire-snapshots call."""
    import os
    import shutil

    removed = 0
    for name in os.listdir(metrics_path):
        if not name.startswith("epoch_id="):
            continue
        try:
            epoch = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if 0 <= epoch <= through_epoch:
            shutil.rmtree(os.path.join(metrics_path, name))
            removed += 1
    return removed


def compact_metrics(
    spark: SparkSession,
    metrics_path: str,
    through_epoch: int,
    key_col: str = "event_type",
    cfg: SketchConfig = SketchConfig(),
) -> dict:
    """Periodic compaction-merge for the metrics append log (SURVEY
    §2.1 #24's other half): fold every epoch partition <= through_epoch
    -- plus the existing base -- into ONE base row per key via
    ``theta_union_agg``, then drop the folded epoch partitions.  A
    long-lived stream otherwise accumulates unbounded small files that
    merged_view must re-merge on every query.

    Idempotent and crash-safe, exactly-once semantics:

    * re-running with the same (or a lower) through_epoch is a no-op
      apart from removing leftover folded partitions;
    * the base row records ``compacted_through``; merged_view ignores
      epoch partitions at or below it, so a crash BETWEEN the base
      write and the partition cleanup never double-counts -- leftovers
      are invisible to readers and removed by the next run;
    * epochs above the previous watermark are folded exactly once
      (sketch union is idempotent anyway; the exact n_events sum is
      what needs the watermark discipline).

    Returns {"compacted_through", "folded_epochs", "removed_partitions",
    "noop"}.
    """
    m = _read_metrics(spark, metrics_path)
    watermark = _base_watermark(m)
    # clamp to the highest epoch ACTUALLY present: recording a watermark
    # past it would make every future epoch <= through_epoch invisible
    # to merged_view and then physically deleted by the next cleanup --
    # silent permanent loss of late-arriving epochs
    max_present = (
        m.where(F.col("epoch_id") != BASE_EPOCH)
        .agg(F.max("epoch_id").alias("m"))
        .collect()[0]["m"]
    )
    if max_present is not None:
        through_epoch = min(int(through_epoch), int(max_present))
    if watermark is not None and watermark >= through_epoch:
        removed = _cleanup_epochs(metrics_path, watermark)
        return {
            "compacted_through": watermark,
            "folded_epochs": 0,
            "removed_partitions": removed,
            "noop": True,
        }
    lo = watermark if watermark is not None else BASE_EPOCH  # exclusive bound
    fold = m.where(
        (F.col("epoch_id") == BASE_EPOCH)
        | ((F.col("epoch_id") > lo) & (F.col("epoch_id") <= through_epoch))
    ).dropDuplicates(["epoch_id", key_col])
    n_folded = fold.where(F.col("epoch_id") != BASE_EPOCH).select("epoch_id").distinct().count()
    if n_folded == 0:
        return {
            "compacted_through": watermark,
            "folded_epochs": 0,
            "removed_partitions": _cleanup_epochs(
                metrics_path, watermark if watermark is not None else BASE_EPOCH
            ),
            "noop": True,
        }
    base = (
        fold.groupBy(key_col)
        .agg(
            F.theta_union_agg("theta_items", cfg.theta_lg_k).alias("theta_items"),
            F.sum("n_events").alias("n_events"),
        )
        .withColumn("compacted_through", F.lit(int(through_epoch)))
        .withColumn("epoch_id", F.lit(BASE_EPOCH))
    )
    # the base relation READS metrics_path and the write OVERWRITES a
    # partition of it -- materialize first (it is one tiny row per key)
    # so the write plan no longer references the path
    base = base.localCheckpoint(eager=True)
    (
        base.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(metrics_path)
    )
    removed = _cleanup_epochs(metrics_path, through_epoch)
    return {
        "compacted_through": int(through_epoch),
        "folded_epochs": n_folded,
        "removed_partitions": removed,
        "noop": False,
    }


def merged_view(spark: SparkSession, metrics_path: str, key_col: str = "event_type",
                cfg: SketchConfig = SketchConfig()) -> DataFrame:
    """Query the append log: merge partial sketches per key (the /query
    endpoint over accumulated /update batches) -- base row (if a
    compaction ran) + the epoch tail above its watermark.  The
    epoch-partitioned write is already idempotent; the key-dedup here is
    defense in depth against a torn non-atomic overwrite (two part files
    surviving in one epoch partition), and the watermark filter makes
    epoch partitions already folded into the base invisible even if a
    compaction crashed before removing them."""
    m = _read_metrics(spark, metrics_path)
    # no base partition => no compaction ran: skip the watermark's job
    watermark = _base_watermark(m) if _has_base(spark, metrics_path) else None
    if watermark is not None:
        m = m.where((F.col("epoch_id") == BASE_EPOCH) | (F.col("epoch_id") > watermark))
    m = m.dropDuplicates(["epoch_id", key_col])
    return m.groupBy(key_col).agg(
        F.theta_sketch_estimate(F.theta_union_agg("theta_items", cfg.theta_lg_k)).alias("distinct_items"),
        F.sum("n_events").alias("n_events"),
    )


def seen_gate_batch(
    batch: DataFrame,
    epoch_id: int,
    bloom_index: DataFrame,
    base_fps: DataFrame,
    out_fresh: str,
    out_seen: str,
    id_col: str = "conv_id",
    fp_col: str = "fp",
    bloom_cfg=None,
) -> None:
    """Ingest-time EXACT history dedup for ONE micro-batch: rows whose
    fingerprint already exists in the historical corpus are diverted to
    ``out_seen``; fresh rows land in ``out_fresh``.  The Bloom index
    (plans/bloom_index, built ONCE from the corpus like decontam's
    eval_state) prefilters so the per-epoch cost is batch hashing + a
    survivors-only verify join -- the batch never joins the corpus
    fingerprint table directly.

    Scope: HISTORY dedup only.  In-day/in-stream duplicates (two
    re-crawls arriving minutes apart) are the job of the stateful
    streaming_exact_dedup upstream; composing the two gives exact
    end-to-end exactly-once text identity at O(batch) per epoch.

    Both sinks are exactly-once epoch-partitioned dynamic overwrites
    (append_metrics_batch pattern): an epoch RETRY deterministically
    rewrites its own partition -- the Bloom probe is pure in (fp, m),
    so the retry produces byte-identical verdicts."""
    from ..plans.bloom_index import BloomConfig, seen_filter

    cfg = bloom_cfg or BloomConfig()
    verdicts = seen_filter(bloom_index, base_fps, batch, id_col, fp_col, cfg)
    tagged = batch.join(
        verdicts.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("seen_before", F.coalesce("seen_before", F.lit(False)))
    for df, path in (
        (tagged.where(~F.col("seen_before")).drop("seen_before"), out_fresh),
        (tagged.where(F.col("seen_before")).drop("seen_before"), out_seen),
    ):
        (
            df.withColumn("epoch_id", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch_id")
            .parquet(path)
        )


def streaming_seen_gate_foreachBatch(
    stream: DataFrame,
    bloom_index: DataFrame,
    base_fps: DataFrame,
    out_fresh: str,
    out_seen: str,
    id_col: str = "conv_id",
    fp_col: str = "fp",
    bloom_cfg=None,
):
    """writeStream.foreachBatch wrapper over :func:`seen_gate_batch`:
    ``streaming_seen_gate_foreachBatch(stream, idx, fps, a, b).start()``.
    """

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        seen_gate_batch(
            batch, epoch_id, bloom_index, base_fps, out_fresh, out_seen,
            id_col, fp_col, bloom_cfg,
        )

    return stream.writeStream.foreachBatch(_sink)
