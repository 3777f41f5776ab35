"""Run the reference's OWN example config through the facade -- the
endpoint-level parity test (mirrors UpdateHandlerTest / SketchStorageTest
flavors: config parsing, type enforcement, estimate tolerance, merge)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from datasketches_server_spark.server import (
    SketchDecl,
    SketchTableServer,
    parse_config,
)

REFERENCE_STYLE_CONFIG = {
    "port": 8080,  # ignored: no server to bind
    "sketches_A": [
        {"name": "cpcOfNumbers", "k": 12, "type": "long", "family": "cpc"},
        {"name": "topItems", "k": 10, "family": "frequency"},
        {"name": "duration", "k": 200, "family": "kll"},
    ],
    "set1": {
        "family": "theta",
        "type": "int",
        "k": 12,
        "names": ["theta0", "theta1"],
    },
}


_GROUPS = itertools.count()


def _jobs_run(spark, fn) -> int:
    """Spark jobs started while fn runs (counted through a job group)."""
    sc = spark.sparkContext
    group = f"facade-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_parse_config_forms():
    decls = parse_config(REFERENCE_STYLE_CONFIG)
    assert {d.name for d in decls} == {"cpcOfNumbers", "topItems", "duration", "theta0", "theta1"}
    # bare-array form (SketchServerConfig.java:91-93)
    bare = parse_config([{"name": "x", "family": "hll", "k": 12, "type": "string"}])
    assert bare[0].family == "hll"
    # duplicate names rejected (SketchStorage.java:156-158)
    with pytest.raises(ValueError):
        parse_config([
            {"name": "x", "family": "hll", "k": 12, "type": "string"},
            {"name": "x", "family": "theta", "k": 12, "type": "int"},
        ])
    # type required for distinct families (SketchStorage.java:72-73)
    with pytest.raises(ValueError):
        SketchDecl(name="bad", family="theta", k=12)


def test_update_query_estimate_tolerance(spark):
    """CPC-style 1%-of-2000-uniques check (UpdateHandlerTest.java:74)."""
    srv = SketchTableServer(spark, parse_config(REFERENCE_STYLE_CONFIG))
    data = spark.range(4000).select((F.col("id") % 2000).alias("value"))
    srv.update("cpcOfNumbers", data)
    est = srv.query("cpcOfNumbers").collect()[0]["estimate"]
    assert est == pytest.approx(2000, rel=0.01)


def test_incremental_updates_accumulate(spark):
    srv = SketchTableServer(spark, parse_config(REFERENCE_STYLE_CONFIG))
    srv.update("theta0", spark.range(0, 500).select(F.col("id").alias("value")))
    srv.update("theta0", spark.range(250, 1000).select(F.col("id").alias("value")))
    est = srv.query("theta0").collect()[0]["estimate"]
    assert est == 1000  # theta exact below nominal entries


def test_incremental_sample_updates_accumulate(spark):
    """ADVICE fix: reservoir/varopt updates must merge across calls
    (the reference accumulates, UpdateHandler.java:72-94) -- a second
    update may not discard the first batch's stream."""
    cfg = parse_config([{"name": "samp", "family": "reservoir", "k": 8}])
    srv = SketchTableServer(spark, cfg)
    srv.update("samp", spark.range(0, 50).select(F.col("id").cast("string").alias("value")))
    n1 = srv.query("samp").collect()[0]["stream_n"]
    srv.update("samp", spark.range(50, 120).select(F.col("id").cast("string").alias("value")))
    row = srv.query("samp").collect()[0]
    assert n1 == 50 and row["stream_n"] == 120
    assert len(row["items"]) == 8
    # determinism across an identical replay
    srv2 = SketchTableServer(spark, cfg)
    srv2.update("samp", spark.range(0, 50).select(F.col("id").cast("string").alias("value")))
    srv2.update("samp", spark.range(50, 120).select(F.col("id").cast("string").alias("value")))
    assert list(srv2.query("samp").collect()[0]["items"]) == list(row["items"])


def test_merge_and_family_compat(spark):
    srv = SketchTableServer(spark, parse_config(REFERENCE_STYLE_CONFIG))
    srv.update("theta0", spark.range(0, 600).select(F.col("id").alias("value")))
    srv.update("theta1", spark.range(400, 1000).select(F.col("id").alias("value")))
    merged = srv.merge(None, ["theta0", "theta1"])
    est = merged.select(F.theta_sketch_estimate("sketch").alias("e")).collect()[0]["e"]
    assert est == 1000
    with pytest.raises(ValueError):
        srv.merge(None, ["theta0", "duration"])  # MergeHandler.java:183-188


def test_merge_into_target_uses_target_k_and_returns_stored_state(spark):
    """With a target, the merge runs under the TARGET's declaration (its
    lg_k=5: 32 nominal entries, so 1000 distinct items leave exact mode)
    and returns the stored state: collecting it re-runs nothing."""
    srv = SketchTableServer(spark, parse_config([
        {"name": "a", "family": "theta", "k": 12, "type": "long"},
        {"name": "b", "family": "theta", "k": 12, "type": "long"},
        {"name": "small", "family": "theta", "k": 5, "type": "long"},
    ]))
    srv.update("a", spark.range(0, 600).select(F.col("id").alias("value")))
    srv.update("b", spark.range(400, 1000).select(F.col("id").alias("value")))
    out = srv.merge("small", ["a", "b"])
    assert _jobs_run(spark, out.collect) == 0
    row = srv.query("small").collect()[0]
    assert row["estimation_mode"]
    assert row["estimate"] != 1000
    assert row["estimate"] == pytest.approx(1000, rel=3 / (32 - 1) ** 0.5)


def test_held_sketch_reads_run_no_spark_job(spark):
    """theta, kll and reservoir state is held in the driver: query and
    serialize answer without scheduling a Spark job."""
    srv = SketchTableServer(spark, parse_config([
        {"name": "t", "family": "theta", "k": 12, "type": "long"},
        {"name": "q", "family": "kll", "k": 200},
        {"name": "r", "family": "reservoir", "k": 8},
    ]))
    nums = spark.range(500).select(F.col("id").alias("value"))
    for n in ("t", "q", "r"):
        srv.update(n, nums)
        srv.update(n, nums)
        assert _jobs_run(spark, lambda: srv.query(n).collect()) == 0, n
        assert _jobs_run(spark, lambda: srv.serialize(n)) == 0, n
    # a loaded image into an empty sketch is held the same way
    img = srv.serialize("t")
    srv.reset("t")
    assert _jobs_run(spark, lambda: srv.load_image("t", img)) == 0
    assert _jobs_run(spark, lambda: srv.query("t").collect()) == 0
    assert srv.query("t").collect()[0]["estimate"] == 500


def test_serialize_roundtrip_and_reset(spark):
    srv = SketchTableServer(spark, parse_config(REFERENCE_STYLE_CONFIG))
    srv.update("theta0", spark.range(100).select(F.col("id").alias("value")))
    img = srv.serialize("theta0")
    srv.reset("theta0")  # ResetHandler analog
    with pytest.raises(KeyError):
        srv.query("theta0")
    srv.load_image("theta0", img)
    assert srv.query("theta0").collect()[0]["estimate"] == 100


def test_load_image_into_populated_theta_is_union(spark):
    """A binary image loaded into a sketch that already holds data
    merges with it: the estimate is that of the union."""
    srv = SketchTableServer(spark, parse_config(REFERENCE_STYLE_CONFIG))
    srv.update("theta0", spark.range(0, 600).select(F.col("id").alias("value")))
    srv.update("theta1", spark.range(400, 1000).select(F.col("id").alias("value")))
    srv.load_image("theta1", srv.serialize("theta0"))
    assert srv.query("theta1").collect()[0]["estimate"] == 1000  # exact below 4096


def test_serialize_all_seven_families(spark):
    """Serialize parity for EVERY family (SerializationHandler.java:
    78-90 serializes all 7; strings-SerDe families get a portable JSON
    image here): update -> serialize -> reset -> load -> same answers."""
    decls = parse_config([
        {"name": "t", "family": "theta", "k": 12, "type": "long"},
        {"name": "h", "family": "hll", "k": 12, "type": "long"},
        {"name": "c", "family": "cpc", "k": 12, "type": "long"},
        {"name": "q", "family": "kll", "k": 200},
        {"name": "f", "family": "frequency", "k": 10},
        {"name": "r", "family": "reservoir", "k": 8},
        {"name": "v", "family": "varopt", "k": 8},
    ])
    srv = SketchTableServer(spark, decls)
    nums = spark.range(500).select(F.col("id").alias("value"))
    strs = spark.range(500).select(
        F.concat(F.lit("it"), (F.col("id") % 40).cast("string")).alias("value")
    )
    for n in ("t", "h", "c"):
        srv.update(n, nums)
    srv.update("q", nums.select(F.col("value").cast("float").alias("value")))
    for n in ("f", "r", "v"):
        srv.update(n, strs)
    before = {}
    images = {}
    for n in ("t", "h", "c", "q", "f", "r", "v"):
        before[n] = [tuple(r) for r in srv.query(n).collect()]
        images[n] = srv.serialize(n)
        srv.reset(n)
    for n, img in images.items():
        srv.load_image(n, img)
        assert [tuple(r) for r in srv.query(n).collect()] == before[n], n


def test_status_lists_all(spark):
    srv = SketchTableServer(spark, parse_config(REFERENCE_STYLE_CONFIG))
    rows = srv.status().collect()
    assert len(rows) == 5  # StatusHandler analog
    assert not any(r["has_data"] for r in rows)


def test_frequency_and_kll_lanes(spark):
    srv = SketchTableServer(spark, parse_config(REFERENCE_STYLE_CONFIG))
    items = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "value string"
    )
    srv.update("topItems", items)
    top = srv.query("topItems", top_k=2).collect()
    assert [(r["value"], r["estimate"]) for r in top] == [("a", 5.0), ("b", 3.0)]
    vals = spark.range(1, 101).select(F.col("id").cast("float").alias("value"))
    srv.update("duration", vals)
    q = srv.query("duration", fractions=(0.5,)).collect()[0]
    assert q["stream_length"] == 100
    assert 40 <= q["quantiles"][0] <= 60


def test_serialize_frequency_cap_guard(spark):
    """Round-3 task #8: serializing a huge exact-frequency state would
    collect the whole distinct-item table to the driver -- refuse past
    max_items and point at the top-k alternative."""
    srv = SketchTableServer(spark, parse_config([{"name": "f", "family": "frequency", "k": 10}]))
    srv.update("f", spark.range(500).select(F.col("id").cast("string").alias("value")))
    with pytest.raises(ValueError, match="max_items"):
        srv.serialize("f", max_items=100)
    img = srv.serialize("f", max_items=1000)  # explicit raise-the-cap path
    assert isinstance(img, str) and len(img) > 0


def test_image_roundtrip_preserves_item_type(spark):
    """ADVICE fix: the serialized image records the item column's type,
    so loading into a live state fed with NUMERIC values merges instead
    of failing on a string/long type mismatch."""
    cfgs = parse_config([
        {"name": "r1", "family": "reservoir", "k": 8},
        {"name": "r2", "family": "reservoir", "k": 8},
        {"name": "f1", "family": "frequency", "k": 10},
        {"name": "f2", "family": "frequency", "k": 10},
    ])
    srv = SketchTableServer(spark, cfgs)
    nums = spark.range(100).select(F.col("id").alias("value"))  # LONG items
    srv.update("r1", nums)
    srv.update("f1", nums)

    # load r1's image into r2 which already holds long-typed state
    srv.update("r2", spark.range(100, 150).select(F.col("id").alias("value")))
    srv.load_image("r2", srv.serialize("r1"))
    merged = srv.query("r2").collect()[0]
    assert merged["stream_n"] == 150

    srv.update("f2", spark.range(100, 150).select(F.col("id").alias("value")))
    srv.load_image("f2", srv.serialize("f1"))
    out = srv.query("f2", top_k=5).collect()
    assert len(out) == 5 and all(r["estimate"] >= 1.0 for r in out)
