"""Reference-compatible facade: the six endpoints over sketch tables.

Accepts the reference's own JSON config format (SketchServerConfig.java:
86-122): a ``port`` key (ignored -- there is no server), ``sketches*``
keys holding arrays of fully-described declarations {name, family, k,
type?}, and ``set*`` keys fanning one spec over a ``names`` list; a bare
JSON array of declarations is also accepted (SketchServerConfig.java:
91-93).  Running the reference's example configs through this class is
the parity demonstration: same declarations, same update/query/merge/
serialize/reset/status semantics.

Where state lives (the reference's heap map, SketchStorage.java:49):
every k-bounded family (theta, hll/cpc, kll, reservoir, varopt) is held
in the driver JVM as a ``LocalRelation`` (see :func:`_driver_resident`),
so query, serialize and queries of a loaded image schedule no Spark job;
frequency keeps an exact, unbounded item table and stays a local
checkpoint in executor memory.

Batch-of-requests ≙ multi-row DataFrame (BaseSketchesQueryHandler.java:
125-139 array fan-out).  Updates are mergeable appends; queries merge at
read time (the accumulator pattern, README.md:377-379) -- no locks, no
mutation (UpdateHandler.java:83's per-name monitor becomes unnecessary).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import SketchConfig
from .functions import sketches as SK

FAMILIES = {"theta", "hll", "cpc", "kll", "frequency", "reservoir", "varopt"}
DISTINCT = {"theta", "hll", "cpc"}
VALUE_TYPES = {
    "int": T.IntegerType(), "long": T.LongType(), "float": T.FloatType(),
    "double": T.DoubleType(), "string": T.StringType(),
}
BINARY_FAMILIES = {"theta", "hll", "cpc", "kll"}


@dataclass(frozen=True)
class SketchDecl:
    name: str
    family: str
    k: int
    value_type: str | None = None  # required iff distinct-counting

    def __post_init__(self):
        if self.family not in FAMILIES:
            raise ValueError(f"unknown family {self.family!r}")
        if self.family in DISTINCT and self.value_type not in VALUE_TYPES:
            # SketchStorage.java:72-73: type required for distinct sketches
            raise ValueError(f"{self.name}: distinct family needs a value type")


def parse_config(source: str | dict | list) -> list[SketchDecl]:
    """Parse the reference's config JSON (file path, dict, or bare list)."""
    if isinstance(source, str):
        with open(source) as f:
            cfg = json.load(f)
    else:
        cfg = source
    entries: list[dict] = []
    if isinstance(cfg, list):
        entries = list(cfg)
    else:
        for key, val in cfg.items():
            if key.startswith("sketches"):
                entries.extend(val)
            elif key.startswith("set"):
                spec = {k: v for k, v in val.items() if k != "names"}
                entries.extend({**spec, "name": n} for n in val["names"])
            # "port" and anything else: ignored (no server to bind)
    decls = [
        SketchDecl(
            name=e["name"],
            family=e["family"].lower(),
            k=int(e["k"]),
            value_type=e.get("type"),
        )
        for e in entries
    ]
    names = [d.name for d in decls]
    if len(set(names)) != len(names):  # SketchStorage.java:156-158
        raise ValueError("duplicate sketch names in config")
    return decls


class SketchTableServer:
    """Named-sketch store as DataFrames (SketchStorage.java:49 analog)."""

    def __init__(self, spark: SparkSession, decls: list[SketchDecl]):
        self.spark = spark
        self.decls = {d.name: d for d in decls}
        # name -> state DF: a driver-resident LocalRelation for every
        # k-bounded family, a local checkpoint for frequency
        self._state: dict[str, DataFrame] = {}
        # per-name update counter: gives sampling-family rows a stable
        # cross-batch identity so occurrence sampling is deterministic
        self._batch_seq: dict[str, int] = {}

    def _cfg(self, d: SketchDecl) -> SketchConfig:
        if d.family == "kll":
            return SketchConfig(kll_k=d.k)
        return SketchConfig(theta_lg_k=d.k, hll_lg_k=d.k, sample_k=d.k)

    # -- /update ------------------------------------------------------------
    def update(self, name: str, values: DataFrame, value_col: str = "value",
               weight_col: str | None = None) -> None:
        """Stream a batch of items into a named sketch (UpdateHandler
        analog).  values: any DataFrame; value_col cast per declared type."""
        d = self.decls.get(name)
        if d is None:
            raise KeyError(name)  # 422 analog
        cfg = self._cfg(d)
        if d.family in DISTINCT:
            vtype = VALUE_TYPES[d.value_type]
            # cast only when needed: each DataFrame op is a JVM analysis
            if values.schema[value_col].dataType != vtype:
                values = values.withColumn(value_col, F.col(value_col).cast(vtype))
        row_key = None
        if d.family in ("reservoir", "varopt"):
            # occurrence semantics across update calls (UpdateHandler.java:
            # 166-185 streams items with multiplicity): synthesize a stable
            # row identity = (item, occurrence-index-in-batch, batch-seq)
            seq = self._batch_seq.get(name, 0)
            self._batch_seq[name] = seq + 1
            occ = F.row_number().over(
                Window.partitionBy(value_col).orderBy(F.col(value_col))
            )
            values = values.withColumn(
                "_row_key",
                F.concat_ws("#", F.col(value_col).cast("string"), occ.cast("string"), F.lit(seq)),
            )
            row_key = "_row_key"
        batch = SK.sketch_update(
            values, [], value_col, d.family, cfg, weight_col=weight_col, row_key_col=row_key
        )
        prev = self._state.get(name)
        if prev is not None:
            # every family merges across update calls (the reference
            # accumulates: UpdateHandler.java:72-94); sample states carry
            # their keys so bottom-k re-merge is exact
            batch = SK.sketch_merge(
                prev.unionByName(batch), d.family if d.family != "cpc" else "hll", (), cfg
            )
        self._store(d, batch)

    def _store(self, d: SketchDecl, state: DataFrame) -> DataFrame:
        """Materialize and keep a sketch's new state: the only place the
        endpoints run the state's plan."""
        if d.family == "frequency":
            held = state.localCheckpoint()  # exact item table: unbounded
        else:
            held = _driver_resident(state)
        self._state[d.name] = held
        return held

    # -- /query -------------------------------------------------------------
    def query(self, name: str, **kwargs) -> DataFrame:
        d = self.decls.get(name)
        if d is None:
            raise KeyError(name)
        st = self._state.get(name)
        if st is None:
            raise KeyError(f"{name}: no data")
        if d.family in DISTINCT:
            return SK.query_distinct(st, "theta" if d.family == "theta" else "hll", self._cfg(d))
        if d.family == "kll":
            return SK.query_quantiles(st, **kwargs)
        if d.family == "frequency":
            return SK.query_frequency(st, top_k=kwargs.get("top_k"))
        return st  # samples: the rows are the answer

    # -- /merge -------------------------------------------------------------
    def merge(self, target: str | None, sources: list[str], k: int | None = None) -> DataFrame:
        """Union named sketches; family compatibility enforced
        (MergeHandler.java:156-158, 183-188).  With a target the merge
        runs under the target's declaration (its k) and the stored target
        state is returned; without, the merge plan is returned (the
        base64-export path, MergeHandler.java:92-100)."""
        fams = {self.decls[s].family for s in sources} | ({self.decls[target].family} if target else set())
        if len(fams) > 1:
            raise ValueError(f"incompatible families {fams}")
        fam = fams.pop()
        parts = [self._state[s] for s in dict.fromkeys(sources + ([target] if target else [])) if s in self._state]
        if not parts:
            raise ValueError("merge: no listed source has any data")  # 422 analog
        decl = self.decls[target or sources[0]]
        merged = SK.sketch_merge(
            _union_all(parts), fam if fam != "cpc" else "hll", (), self._cfg(decl)
        )
        return self._store(decl, merged) if target else merged

    # -- /serialize ---------------------------------------------------------
    def serialize(self, name: str, max_items: int = 65536) -> str:
        """base64 image for EVERY family (SerializationHandler.java:53-107):
        theta/hll/cpc/kll export the DataSketches-compatible binary; the
        strings-SerDe families (frequency/reservoir/varopt -- the
        reference uses ArrayOfStringsSerDe, lines 78/87/90) export a
        portable base64url JSON image of (items/sample + totals + k +
        the item column's type, so a reload casts correctly).

        max_items guards the frequency family: its exact tier can hold
        an unbounded distinct-item table, and an image collects it to
        the driver.  Past the cap we refuse (the reference's ItemsSketch
        is k-bounded and never hits this) -- export query_frequency
        top-k instead, or raise max_items deliberately."""
        import base64

        d = self.decls[name]
        st = self._state[name]
        if d.family in BINARY_FAMILIES:
            row = SK.serialize_sketch(st, d.family).collect()[0]
            return row["image"]
        if d.family == "frequency":
            item_cols = [c for c in st.columns if c != "weight"]
            n_items = st.count()
            if n_items > max_items:
                raise ValueError(
                    f"{name}: frequency state holds {n_items} distinct items "
                    f"(> max_items={max_items}); serializing would collect them "
                    "all to the driver.  Export a top-k via query_frequency, or "
                    "pass a larger max_items explicitly."
                )
            payload = {
                "family": "frequency", "k": d.k, "item_col": item_cols[0],
                "item_type": dict(st.dtypes)[item_cols[0]],
                "items": [
                    {"item": r[item_cols[0]], "weight": r["weight"]} for r in st.collect()
                ],
            }
        else:
            row = st.collect()[0]
            payload = {
                "family": d.family, "k": d.k,
                "item_type": _sample_item_type(st),
                "sample": [s.asDict() for s in row["sample"]],
            }
            for tc in ("stream_n", "stream_weight"):
                if tc in st.columns:
                    payload[tc] = row[tc]
        return base64.urlsafe_b64encode(json.dumps(payload).encode()).decode()

    def load_image(self, name: str, image: str) -> None:
        """Absorb a base64 sketch image (the /merge data: input,
        MergeHandler.java:203-235); binary families are DataSketches-
        compatible, sample/frequency families use the JSON image from
        :meth:`serialize`."""
        import base64

        d = self.decls[name]
        cfg = self._cfg(d)
        prev = self._state.get(name)
        if d.family in BINARY_FAMILIES:
            sk = SK.deserialize_sketch(_image_row(self.spark, image)).select("sketch")
            merged = sk if prev is None else SK.sketch_merge(
                prev.select("sketch").unionByName(sk),
                d.family if d.family != "cpc" else "hll", (), cfg,
            )
            self._store(d, merged)
            return
        p = json.loads(base64.urlsafe_b64decode(image))
        if p["family"] != d.family:
            raise ValueError(f"image family {p['family']!r} != {d.family!r}")
        # the item column's type travels in the image (older images
        # default to string); a live state with a non-string item column
        # (numeric value feeds) additionally coerces the batch to ITS
        # type, so the unionByName/merge below can never type-mismatch
        item_type = p.get("item_type", "string")
        if d.family == "frequency":
            col = p["item_col"]
            if prev is not None:
                item_type = dict(prev.dtypes)[col]
            batch = self.spark.createDataFrame(
                [(str(i["item"]), float(i["weight"])) for i in p["items"]],
                f"{col} string, weight double",
            ).withColumn(col, F.col(col).cast(item_type))
        elif d.family == "reservoir":
            if prev is not None:
                item_type = _sample_item_type(prev)
            rows = self.spark.createDataFrame(
                [(s["_key"], str(s["item"])) for s in p["sample"]], "_key double, item string"
            ).withColumn("item", F.col("item").cast(item_type))
            batch = rows.agg(
                F.sort_array(F.collect_list(F.struct("_key", "item"))).alias("sample")
            ).select(
                "sample",
                F.transform("sample", lambda s: s["item"]).alias("items"),
                F.lit(int(p["stream_n"])).cast("long").alias("stream_n"),
            )
        else:  # varopt
            if prev is not None:
                item_type = _sample_item_type(prev)
            rows = self.spark.createDataFrame(
                [(s["_key"], str(s["item"]), s["weight"]) for s in p["sample"]],
                "_key double, item string, weight double",
            ).withColumn("item", F.col("item").cast(item_type))
            batch = rows.agg(
                F.sort_array(F.collect_list(F.struct("_key", "item", "weight"))).alias("sample")
            ).select(
                "sample",
                F.transform(
                    F.slice("sample", 1, d.k),
                    lambda s: F.struct(s["item"].alias("item"), s["weight"].alias("weight")),
                ).alias("items"),
                F.lit(float(p["stream_weight"])).alias("stream_weight"),
                F.lit(int(p["stream_n"])).cast("long").alias("stream_n"),
            )
        merged = batch if prev is None else SK.sketch_merge(
            prev.unionByName(batch), d.family, (), cfg
        )
        self._store(d, merged)

    # -- /reset, /status ----------------------------------------------------
    def reset(self, name: str) -> None:
        self._state.pop(name, None)  # recompute-from-data model

    def status(self) -> DataFrame:
        rows = [
            (d.name, d.family, d.value_type, d.k, d.name in self._state)
            for d in self.decls.values()
        ]
        return self.spark.createDataFrame(
            rows, "name string, family string, type string, k int, has_data boolean"
        ).orderBy("name")


def _local_relation(spark: SparkSession, jrows, jschema) -> DataFrame:
    """A DataFrame over JVM-side rows (a ``java.util.List<Row>``) as a
    ``LocalRelation``: built with one py4j call, no Python RDD or Arrow
    transfer.  Spark folds projections of a LocalRelation while planning
    and collects a local scan without scheduling a job."""
    return DataFrame(spark._jsparkSession.createDataFrame(jrows, jschema), spark)


def _driver_resident(state: DataFrame) -> DataFrame:
    """Hold a k-bounded sketch state in the driver JVM: its plan runs
    once and the rows it yields are collected there, never into Python."""
    jdf = state._jdf
    return _local_relation(state.sparkSession, jdf.collectAsList(), jdf.schema())


def _image_row(spark: SparkSession, image: str) -> DataFrame:
    """The one-row ``image string`` frame of a base64 image, built in
    the driver JVM."""
    jvm = spark._jvm
    cell = spark.sparkContext._gateway.new_array(jvm.java.lang.Object, 1)
    cell[0] = image
    row = jvm.org.apache.spark.sql.RowFactory.create(cell)
    return _local_relation(spark, [row], jvm.org.apache.spark.sql.types.StructType.fromDDL("image string"))


def _sample_item_type(state: DataFrame) -> str:
    """The sample struct's item field type (reservoir/varopt state)."""
    elem = state.schema["sample"].dataType.elementType
    return next(f.dataType.simpleString() for f in elem.fields if f.name == "item")


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out
