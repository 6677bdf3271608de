"""qdrant-compatible client facade over the Spark engine.

A user of the reference talks to it through ``qdrant_client.QdrantClient``
(or the REST API it mirrors): ``create_collection`` / ``upsert`` /
``query_points`` / ``scroll`` / ``count`` / ``facet`` / payload-index and
alias management. This module provides the same surface — same method
names, same request shapes (plain dicts in the REST JSON forms), same
response fields — composed from the engine's operators:

- collection + alias + payload-index bookkeeping: ``catalog.CollectionCatalog``
- point mutations: ``operators.mutate`` (anti-join + union MERGE rewrites)
- reads: ``operators.points`` (retrieve/scroll/count/facet)
- queries: ``query.QueryPlanner`` (universal prefetch-tree planner)
- strict mode: ``catalog.check_strict_mode``

Reference surface being mirrored: REST handlers in
``/root/reference/src/actix/api/{collections_api,update_api,query_api,
retrieve_api,count_api,facet_api}.rs`` and the request/response types in
``lib/api/src/rest/schema.rs`` (PointStruct, ScoredPoint, Record,
UpdateResult, ScrollResult, CountResult, FacetResponse).

Storage model: one DataFrame per collection —
``(id, version, vec_<name>..., <payload field columns>...)``. The unnamed
vector is column ``vec``; named vectors ``vec_<name>``; sparse vectors a
``{indices, values}`` struct column. Payload fields are typed top-level
columns inferred from the upserted values (dict payload values become
structs so JsonPath filters resolve; lists stay arrays with
scalar-or-array match semantics preserved by the filter compiler).

Scale shape: every method returns bounded driver-side results (limits are
request-bounded, as in the reference API), while the underlying corpus
stays a distributed DataFrame. Pass ``root=`` to persist each collection
as parquet after mutations — that both bounds query lineage and gives
scans real file pruning; without it collections live as in-memory lazy
plans (fine for tests, not for 100 TB).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from qdrant_spark.catalog import (
    CollectionCatalog,
    StrictModeConfig,
    check_strict_mode,
)
from qdrant_spark.filters import apply_filter
from qdrant_spark.operators import mutate as M
from qdrant_spark.operators import points as P
from qdrant_spark.query import QueryPlanner
from qdrant_spark.schema import VectorConfig
from qdrant_spark.session import local_df

# REST distance names (types.rs Distance enum) -> engine metric names
_DISTANCE = {"cosine": "cosine", "dot": "dot", "euclid": "euclid",
             "manhattan": "manhattan"}


def _metric(name: str) -> str:
    try:
        return _DISTANCE[str(name).lower()]
    except KeyError:
        raise ValueError(f"unknown distance {name!r}") from None


# ---------------------------------------------------------------------------
# response shapes (the qdrant-client result objects, as plain dataclasses)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ScoredPoint:
    id: Any
    score: float
    version: int | None = None
    payload: dict[str, Any] | None = None
    vector: Any = None


@dataclass(frozen=True)
class Record:
    id: Any
    payload: dict[str, Any] | None = None
    vector: Any = None


@dataclass(frozen=True)
class QueryResponse:
    points: list[ScoredPoint]


@dataclass(frozen=True)
class PointGroup:
    id: Any
    hits: list[ScoredPoint]
    lookup: dict[str, Any] | None = None


@dataclass(frozen=True)
class GroupsResult:
    groups: list[PointGroup]


@dataclass(frozen=True)
class UpdateResult:
    operation_id: int
    status: str = "completed"


@dataclass(frozen=True)
class CountResult:
    count: int


@dataclass(frozen=True)
class FacetValueHit:
    value: Any
    count: int


@dataclass(frozen=True)
class FacetResponse:
    hits: list[FacetValueHit]


# ---------------------------------------------------------------------------
# payload type inference: python values -> Spark types (deterministic,
# batch-merged; the reference infers payload JSON the same lazily-typed way)
# ---------------------------------------------------------------------------


def _merge_type(a: T.DataType | None, b: T.DataType | None) -> T.DataType | None:
    if a is None:
        return b
    if b is None:
        return a
    # NullType marks "no element seen yet" (empty list / null-only field):
    # it defers to any typed side instead of conflicting
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if a == b:
        return a
    numeric = (T.LongType, T.DoubleType)
    if isinstance(a, numeric) and isinstance(b, numeric):
        return T.DoubleType()
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        el = _merge_type(a.elementType, b.elementType)
        return T.ArrayType(el if el is not None else T.StringType())
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        names = list(dict.fromkeys([f.name for f in a.fields]
                                   + [f.name for f in b.fields]))
        out = []
        for n in names:
            ta = a[n].dataType if n in a.fieldNames() else None
            tb = b[n].dataType if n in b.fieldNames() else None
            m = _merge_type(ta, tb)
            out.append(T.StructField(n, m if m is not None else T.StringType()))
        return T.StructType(out)
    raise ValueError(
        f"payload type conflict: {a.simpleString()} vs {b.simpleString()}")


def _infer_type(v: Any) -> T.DataType | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, _dt.datetime):
        return T.TimestampType()
    if isinstance(v, dict):
        st: T.DataType | None = T.StructType([])
        for k, x in v.items():
            tx = _infer_type(x)
            st = _merge_type(st, T.StructType(
                [T.StructField(k, tx if tx is not None else T.NullType())]))
        return st
    if isinstance(v, (list, tuple)):
        el: T.DataType | None = None
        for x in v:
            el = _merge_type(el, _infer_type(x))
        return T.ArrayType(el if el is not None else T.NullType())
    raise ValueError(f"unsupported payload value type: {type(v).__name__}")


def _is_untyped(t: T.DataType | None) -> bool:
    """True when inference never saw a typed value (None, NullType, or
    containers of only NullType) — the field's real type is still open."""
    if t is None or isinstance(t, T.NullType):
        return True
    if isinstance(t, T.ArrayType):
        return _is_untyped(t.elementType)
    if isinstance(t, T.StructType):
        return not t.fields or all(_is_untyped(f.dataType) for f in t.fields)
    return False


def _finalize_type(t: T.DataType) -> T.DataType:
    """Replace any leftover NullType sentinel (a field/element never seen
    with a typed value in this batch) with string — the widest writable
    scalar; a later batch with real values widens the table column via
    _evolve only if types agree, so null-only columns default to string."""
    if isinstance(t, T.NullType):
        return T.StringType()
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_finalize_type(t.elementType))
    if isinstance(t, T.StructType):
        return T.StructType([
            T.StructField(f.name, _finalize_type(f.dataType))
            for f in t.fields])
    return t


def _conform(v: Any, t: T.DataType) -> Any:
    """Convert a python value to the tuple/list shape createDataFrame
    expects for ``t`` (structs become tuples in field order)."""
    if v is None:
        return None
    if isinstance(t, T.DoubleType):
        return float(v)
    if isinstance(t, T.ArrayType):
        return [_conform(x, t.elementType) for x in v]
    if isinstance(t, T.StructType):
        if not isinstance(v, dict):
            raise ValueError(f"expected object for {t.simpleString()}, got {v!r}")
        return tuple(_conform(v.get(f.name), f.dataType) for f in t.fields)
    return v


# ---------------------------------------------------------------------------
# per-collection state
# ---------------------------------------------------------------------------


@dataclass
class _Collection:
    name: str
    vectors: dict[str, VectorConfig]            # "" = unnamed dense vector
    sparse: dict[str, dict[str, Any]] = field(default_factory=dict)
    df: DataFrame | None = None
    id_type: T.DataType | None = None
    op_counter: int = 0
    text_params: dict[str, dict[str, Any]] = field(default_factory=dict)
    sharding: str | None = None                 # "custom" | None
    shard_keys: list = field(default_factory=list)
    #: per-vector-name IVF indexes (ensure_vector_index); invalidated by
    #: every mutation — rebuilt/reloaded on the next ensure call
    ivf: dict[str, Any] = field(default_factory=dict)
    #: per-sparse-vector-name inverted indexes (ensure_vector_index on a
    #: declared sparse vector); invalidated like `ivf`
    sparse_idx: dict[str, Any] = field(default_factory=dict)
    #: per-vector-name quantized indexes (quantize.QuantHandle) built by
    #: ensure_vector_index from the declared quantization_config;
    #: invalidated like `ivf`
    quant: dict[str, Any] = field(default_factory=dict)
    #: per-vector-name COMPOSED quantization x IVF handles
    #: (quantize.QuantIvfHandle) built when a quantized vector is ensured
    #: with explicit clustering params; invalidated like `ivf`
    quant_ivf: dict[str, Any] = field(default_factory=dict)
    #: per-multivector-name token-level coarse indexes
    #: (multivec.MaxSimRoute); invalidated like `ivf`
    mv_idx: dict[str, Any] = field(default_factory=dict)
    #: per-multivector-name quantized token storage (multivec.MaxSimSq)
    #: built from a declared quantization_config; invalidated like `ivf`
    mv_sq: dict[str, Any] = field(default_factory=dict)
    #: payload columns stored before any batch supplied a typed value
    #: (null-only / empty-list fields finalized to string); a later typed
    #: batch re-casts them instead of conflicting
    null_typed: set = field(default_factory=set)

    def vec_col(self, name: str = "") -> str:
        return f"vec_{name}" if name else "vec"

    def vec_cols(self) -> list[str]:
        return [self.vec_col(n) for n in list(self.vectors) + list(self.sparse)]

    def payload_cols(self) -> list[str]:
        if self.df is None:
            return []
        reserved = {"id", "version", "shard_key", *self.vec_cols()}
        return [c for c in self.df.columns if c not in reserved]

    def metric_for(self, using: str | None) -> str:
        name = using or ""
        if name in self.vectors:
            return self.vectors[name].distance
        if name in self.sparse:
            return "dot"
        # "using" may name a raw column of an externally-registered frame
        return "cosine"

    def metrics_map(self) -> dict[str, str]:
        """vec COLUMN -> declared distance, for QueryPlanner(metrics=...):
        every leaf/leg then scores and sorts by ITS `using` vector's
        declared distance, not the collection default (the reference
        resolves distance per named vector, VectorDataConfig.distance)."""
        out = {self.vec_col(n): v.distance for n, v in self.vectors.items()}
        out.update({self.vec_col(n): "dot" for n in self.sparse})
        return out


class QdrantSparkClient:
    """Drop-in facade: the qdrant-client method surface over Spark.

    Responses are the qdrant-client result shapes (``ScoredPoint`` /
    ``Record`` / ``UpdateResult`` / ...), driver-local and bounded by the
    request limits. Documented divergences from the reference client:

    - ``wait=`` / ``ordering=`` / ``timeout=`` parameters are accepted and
      ignored (every mutation here is synchronous and atomic).
    - consistency/replication parameters don't exist (Spark's storage is
      the replication layer).
    - vector names must be declared at ``create_collection`` (as in the
      reference); payload fields need no declaration.
    - payload fields are typed COLUMNS, inferred per upsert batch and
      schema-evolved across batches: a field keeps one value kind per
      collection (int/float widen to double; a kind conflict such as
      string-vs-bool on the same key raises a clear error instead of
      storing mixed types). The reference's payload is schemaless JSON;
      typed columns are what make filters pushable/prunable at 100 TB.
    - root-backed mutations rewrite the collection's parquet snapshot
      (bounded lineage, real file pruning). At large scale use the Delta
      MERGE twin (operators/mutate.upsert_points_delta) so a mutation
      rewrites only touched files.
    """

    def __init__(self, spark: SparkSession, *, root: str | None = None):
        self.spark = spark
        self.root = root
        self.catalog = CollectionCatalog()
        self._colls: dict[str, _Collection] = {}
        #: (collection, sparse name, op_counter) -> {dim: idf} for the
        #: Modifier::Idf query rescale; keyed on op_counter so any
        #: mutation naturally invalidates
        self._idf_cache: dict[tuple, dict[int, float]] = {}

    # -- helpers -------------------------------------------------------------

    def _coll(self, name: str) -> _Collection:
        resolved = self.catalog._aliases.get(name, name)
        try:
            return self._colls[resolved]
        except KeyError:
            raise KeyError(f"collection {name!r} not found") from None

    def _commit(self, col: _Collection, df: DataFrame) -> UpdateResult:
        """Install the post-mutation state; parquet round-trip when a root
        directory is configured (bounds lineage, enables file pruning)."""
        col.op_counter += 1
        if self.root is not None:
            path = os.path.join(self.root, col.name, "points")
            tmp = path + "__new"
            w = df.write.mode("overwrite")
            if col.sharding == "custom":
                # a shard is a partition directory: shard-key selectors
                # become directory pruning (operators/sharding.py)
                w = w.partitionBy("shard_key")
            w.parquet(tmp)
            # the new state may read the old files (anti-join lineage):
            # land in a side dir first, then swap
            import shutil

            if os.path.exists(path):
                shutil.rmtree(path)
            os.replace(tmp, path)
            df = self.spark.read.parquet(path)
        col.df = df
        col.ivf.clear()  # indexes describe the pre-mutation corpus
        col.sparse_idx.clear()
        col.quant.clear()
        col.quant_ivf.clear()
        col.mv_idx.clear()
        col.mv_sq.clear()
        # stale op_counter generations would otherwise pile up forever on
        # a long-lived client interleaving mutations with Modifier::Idf
        # queries (r9 ADVICE): evict this collection's old keys
        for k in [k for k in self._idf_cache if k[0] == col.name]:
            self._idf_cache.pop(k, None)
        self.catalog._collections[col.name] = df
        return UpdateResult(operation_id=col.op_counter)

    def _points_signature(self, col: _Collection) -> str | None:
        """Cheap content token of the persisted points table (relative
        path + size + mtime of every data file, md5'd) for the ensures'
        ``corpus_signature`` drift check — no corpus scan, just a
        directory listing. ``_commit`` rewrites the table on every
        mutation, so count-stable content drift (update_vectors) changes
        the digest and a later ensure REBUILDS the frozen float layouts
        instead of loading stale ones. None without a storage root
        (in-memory indexes die with the mutation anyway — ``_commit``
        clears them)."""
        if self.root is None:
            return None
        import hashlib

        path = os.path.join(self.root, col.name, "points")
        h = hashlib.md5()
        found = False
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames.sort()
            for fn in sorted(filenames):
                if fn.startswith(("_", ".")):
                    continue
                found = True
                st = os.stat(os.path.join(dirpath, fn))
                rel = os.path.relpath(os.path.join(dirpath, fn), path)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
        return h.hexdigest() if found else None

    def _indexed_fields(self, name: str) -> set[str]:
        return set(self.catalog.list_field_indexes(name))

    def _check_strict(self, name: str, request: dict[str, Any], *,
                      is_update: bool = False,
                      batch: list | None = None) -> None:
        cfg = self.catalog.get_strict_mode(name)
        if cfg is None:
            return
        check_strict_mode(request, cfg,
                          indexed_fields=self._indexed_fields(name),
                          is_update=is_update, batch=batch)

    # -- collections ---------------------------------------------------------

    def create_collection(
        self,
        collection_name: str,
        *,
        vectors_config: dict[str, Any] | None = None,
        sparse_vectors_config: dict[str, Any] | None = None,
        strict_mode_config: dict[str, Any] | StrictModeConfig | None = None,
        sharding_method: str | None = None,
        quantization_config: dict[str, Any] | None = None,
        **_ignored: Any,
    ) -> bool:
        """REST ``PUT /collections/{name}``. ``vectors_config`` is either
        the unnamed form ``{"size": d, "distance": "Cosine"}`` or a
        ``{name: {...}}`` map; a per-name ``multivector_config`` selects
        the multivector (MaxSim) layout; a ``quantization_config`` (per
        name, or collection-level — the reference accepts both,
        CollectionParams/VectorParams) declares scalar/product/binary/
        turbo quantized storage built by ``ensure_vector_index`` and
        searched coarse+rescore. ``sharding_method="custom"`` enables
        user shard keys (create_shard_key + per-request
        shard_key_selector; points land in per-key partition
        directories)."""
        from qdrant_spark.operators.quantize import quant_kind

        if collection_name in self._colls:
            raise ValueError(f"collection {collection_name!r} already exists")
        if sharding_method not in (None, "auto", "custom"):
            raise ValueError(f"unknown sharding_method {sharding_method!r}")
        if quantization_config is not None:
            quant_kind(quantization_config)  # validate the shape early
        vectors: dict[str, VectorConfig] = {}
        if vectors_config:
            cfgs = ({"": vectors_config} if "size" in vectors_config
                    else dict(vectors_config))
            for vname, c in cfgs.items():
                mvc = c.get("multivector_config")
                kind = "multi" if mvc else "dense"
                qc = c.get("quantization_config")
                own = qc is not None
                if qc is None and kind == "dense":
                    qc = quantization_config  # collection-level default
                if qc is not None:
                    quant_kind(qc)
                # declared coarse-index params (per-vector hnsw_config
                # analogue): an explicit "index" block, plus any routing
                # knobs carried inside multivector_config beyond the
                # comparator — ensure_vector_index reads them like it
                # reads quantization_config
                ip = dict(c.get("index") or {})
                if isinstance(mvc, dict):
                    for kk in ("n_clusters", "nprobe", "candidates",
                               "full_scan_threshold"):
                        if kk in mvc and kk not in ip:
                            ip[kk] = mvc[kk]
                vectors[vname] = VectorConfig(
                    dim=int(c["size"]), distance=_metric(c.get("distance", "Cosine")),
                    kind=kind, quantization=qc, quant_own=own,
                    index_params=ip or None)
        col = _Collection(name=collection_name, vectors=vectors,
                          sparse=dict(sparse_vectors_config or {}),
                          sharding=("custom" if sharding_method == "custom"
                                    else None))
        self._colls[collection_name] = col
        # registered lazily so alias checks see it; real df arrives on
        # upsert — or, with a storage root, from the PERSISTED snapshot a
        # previous session committed: the reference reopens collections
        # from disk on restart (segment load on collection open), and at
        # scale "re-upsert everything after every restart" is not a
        # lifecycle. The reopened frame is the same parquet every
        # mutation swaps (_commit), so ensure_vector_index's signature
        # check sees the unchanged files and takes its no-scan LOAD path.
        if self.root is not None:
            ppath = os.path.join(self.root, collection_name, "points")
            if os.path.isdir(ppath):
                col.df = self.spark.read.parquet(ppath)
                # state the first upsert would otherwise infer
                col.id_type = col.df.schema["id"].dataType
        self.catalog.register(collection_name, lambda: col.df)
        if strict_mode_config is not None:
            if not isinstance(strict_mode_config, StrictModeConfig):
                strict_mode_config = StrictModeConfig(**strict_mode_config)
            self.catalog.set_strict_mode(collection_name, strict_mode_config)
        return True

    def update_collection(self, collection_name: str, *,
                          strict_mode_config: dict[str, Any] |
                          StrictModeConfig | None = None,
                          quantization_config: dict[str, Any] | None = None,
                          **_ignored: Any) -> bool:
        """REST ``PATCH /collections/{name}``: the engine-applicable knobs
        are strict mode and ``quantization_config`` (the reference lets
        PATCH change it and rebuilds on mismatch,
        QuantizationConfig::mismatch_requires_rebuild, types.rs:1143-1151
        — here the built codes are dropped and the next
        ``ensure_vector_index`` rebuilds); optimizer/HNSW params are
        node-operational in the reference and accepted-ignored here.

        A collection-level PATCH follows the reference's precedence:
        vectors that declared their OWN per-name quantization_config at
        create time keep it (VectorParams wins over CollectionParams).
        ``quantization_config={"disabled": True}`` (or the string
        "disabled" — QuantizationConfigDiff's Disabled variant) clears
        quantization from EVERY dense vector, per-name configs included —
        disabling is an explicit request, not a default."""
        from dataclasses import replace

        from qdrant_spark.operators.quantize import quant_kind

        col = self._coll(collection_name)
        if strict_mode_config is not None:
            if not isinstance(strict_mode_config, StrictModeConfig):
                strict_mode_config = StrictModeConfig(**strict_mode_config)
            self.catalog.set_strict_mode(col.name, strict_mode_config)
        if quantization_config is not None:
            disabled = (
                (isinstance(quantization_config, str)
                 and quantization_config.lower() == "disabled")
                or (isinstance(quantization_config, dict)
                    and quantization_config.get("disabled") is True))
            if disabled:
                col.vectors = {
                    n: (replace(v, quantization=None, quant_own=False)
                        if v.kind == "dense" else v)
                    for n, v in col.vectors.items()}
                col.quant.clear()
                col.quant_ivf.clear()
                return True
            quant_kind(quantization_config)
            col.vectors = {
                n: (replace(v, quantization=quantization_config)
                    if v.kind == "dense" and not v.quant_own else v)
                for n, v in col.vectors.items()}
            # only the vectors whose config actually changed lose their
            # built codes; per-name-configured vectors keep theirs
            for n in list(col.quant) + list(col.quant_ivf):
                vc = col.vectors.get(n)
                if vc is None or not vc.quant_own:
                    col.quant.pop(n, None)
                    col.quant_ivf.pop(n, None)
        return True

    def delete_collection(self, collection_name: str, **_ignored: Any) -> bool:
        existed = collection_name in self._colls
        self._colls.pop(collection_name, None)
        self.catalog.drop(collection_name)
        return existed

    def collection_exists(self, collection_name: str) -> bool:
        return self.catalog._aliases.get(collection_name, collection_name) \
            in self._colls

    def get_collections(self) -> list[str]:
        return sorted(self._colls)

    def get_collection(self, collection_name: str) -> dict[str, Any]:
        col = self._coll(collection_name)
        n = col.df.count() if col.df is not None else 0
        return {
            "status": "green",
            "points_count": n,
            "config": {
                "params": {
                    "vectors": {nm: {"size": vc.dim, "distance": vc.distance,
                                     "kind": vc.kind,
                                     **({"quantization_config":
                                         vc.quantization}
                                        if vc.quantization else {})}
                                for nm, vc in col.vectors.items()},
                    "sparse_vectors": dict(col.sparse),
                },
            },
            "payload_schema": {
                f: {"data_type": fi.schema_type, "params": fi.params}
                for f, fi in self.catalog.list_field_indexes(col.name).items()
            },
        }

    # -- aliases -------------------------------------------------------------

    def update_collection_aliases(self, change_aliases_operations: list[dict],
                                  **_ignored: Any) -> bool:
        for op in change_aliases_operations:
            if "create_alias" in op:
                a = op["create_alias"]
                self.catalog.create_alias(a["alias_name"], a["collection_name"])
            elif "delete_alias" in op:
                self.catalog.delete_alias(op["delete_alias"]["alias_name"])
            elif "rename_alias" in op:
                a = op["rename_alias"]
                self.catalog.rename_alias(a["old_alias_name"], a["new_alias_name"])
            else:
                raise ValueError(f"unknown alias operation: {op!r}")
        return True

    # -- shard keys (custom sharding; PUT/DELETE /collections/{c}/shards) ----

    def create_shard_key(self, collection_name: str, shard_key: Any,
                         **_ignored: Any) -> bool:
        """Declare a shard key (ShardKey::Keyword | Number, types.rs:6309).
        Points are placed under it via ``shard_key_selector`` on upsert."""
        col = self._coll(collection_name)
        if col.sharding != "custom":
            raise ValueError("collection was not created with "
                             "sharding_method='custom'")
        if col.shard_keys and not isinstance(shard_key,
                                             type(col.shard_keys[0])):
            raise ValueError("shard keys must share one type per collection")
        if shard_key not in col.shard_keys:
            col.shard_keys.append(shard_key)
        return True

    def delete_shard_key(self, collection_name: str, shard_key: Any,
                         **_ignored: Any) -> bool:
        """Drop a shard key AND its points (deleting a shard deletes the
        data it holds)."""
        col = self._coll(collection_name)
        if shard_key not in col.shard_keys:
            return False
        col.shard_keys.remove(shard_key)
        if col.df is not None:
            self._commit(col, col.df.filter(
                F.col("shard_key") != F.lit(shard_key)))
        return True

    def _route(self, col: _Collection, df: DataFrame,
               selector: Any) -> DataFrame:
        if selector is None:
            return df
        from qdrant_spark.operators.sharding import select_shards

        return select_shards(df, selector, col="shard_key",
                             existing_keys=col.shard_keys or None)

    # -- payload indexes -------------------------------------------------------

    def create_payload_index(self, collection_name: str, field_name: str,
                             field_schema: str | dict[str, Any] = "keyword",
                             **_ignored: Any) -> UpdateResult:
        col = self._coll(collection_name)
        if isinstance(field_schema, str):
            schema_type, params = field_schema, {}
        else:
            fs = dict(field_schema)
            schema_type = fs.pop("type")
            params = fs
        self.catalog.create_field_index(collection_name, field_name,
                                        schema_type, **params)
        if schema_type == "text":
            col.text_params[field_name] = dict(params)
        col.op_counter += 1
        return UpdateResult(operation_id=col.op_counter)

    def delete_payload_index(self, collection_name: str, field_name: str,
                             **_ignored: Any) -> UpdateResult:
        col = self._coll(collection_name)
        self.catalog.delete_field_index(collection_name, field_name)
        col.text_params.pop(field_name, None)
        col.op_counter += 1
        return UpdateResult(operation_id=col.op_counter)

    # -- point ingestion -------------------------------------------------------

    def _vector_map(self, col: _Collection, vector: Any) -> dict[str, Any]:
        if isinstance(vector, dict) and not (
                "indices" in vector and "values" in vector):
            return dict(vector)
        return {"": vector}

    def _points_to_df(self, col: _Collection, points: list[dict[str, Any]],
                      shard_key: Any = None) -> DataFrame:
        if not points:
            raise ValueError("empty points batch")
        if col.sharding == "custom":
            if shard_key is None:
                raise ValueError("custom-sharded collection: upsert needs "
                                 "shard_key_selector")
            if shard_key not in col.shard_keys:
                raise ValueError(f"unknown shard key {shard_key!r}; "
                                 "create_shard_key first")
        # id type: decided by the first batch, enforced thereafter
        ids = [p["id"] for p in points]
        batch_id_t: T.DataType = (
            T.LongType() if all(isinstance(i, int) for i in ids)
            else T.StringType())
        if col.id_type is None:
            col.id_type = batch_id_t
        if isinstance(col.id_type, T.StringType):
            ids = [str(i) for i in ids]
        elif not all(isinstance(i, int) for i in ids):
            raise ValueError("collection has integer ids; got non-integer id")

        # vector columns from the declared configs
        vec_fields: list[T.StructField] = []
        for vname, vc in col.vectors.items():
            vec_fields.append(T.StructField(col.vec_col(vname), vc.spark_type))
        for sname in col.sparse:
            vec_fields.append(T.StructField(
                col.vec_col(sname),
                VectorConfig(dim=0, distance="dot", kind="sparse").spark_type))

        # payload schema: merged inference across the batch
        reserved = {"id", "version", "shard_key", *col.vec_cols()}
        payload_types: dict[str, T.DataType | None] = {}
        for p in points:
            for k, v in (p.get("payload") or {}).items():
                if k in reserved:
                    raise ValueError(f"reserved payload key: {k!r}")
                payload_types[k] = _merge_type(payload_types.get(k),
                                               _infer_type(v))
        #: fields this batch never really typed — upsert() tracks them so
        #: a LATER typed batch re-casts the column instead of conflicting
        self._last_untyped = {k for k, t in payload_types.items()
                              if _is_untyped(t)}
        payload_fields = [
            T.StructField(k, _finalize_type(t) if t is not None
                          else T.StringType())
            for k, t in payload_types.items()
        ]
        head = [T.StructField("id", col.id_type, False),
                T.StructField("version", T.LongType(), False)]
        if col.sharding == "custom":
            head.append(T.StructField(
                "shard_key",
                T.LongType() if isinstance(shard_key, int)
                else T.StringType(), False))
        schema = T.StructType(head + vec_fields + payload_fields)

        version = col.op_counter + 1
        rows = []
        for pid, p in zip(ids, points):
            row: list[Any] = [pid, version]
            if col.sharding == "custom":
                row.append(shard_key)
            vm = self._vector_map(col, p.get("vector") or {})
            declared = set(col.vectors) | set(col.sparse)
            unknown = set(vm) - declared
            if unknown:
                raise ValueError(
                    f"undeclared vector name(s) {sorted(unknown)}; declared: "
                    f"{sorted(declared) or ['<none>']}")
            for vname, vc in col.vectors.items():
                v = vm.get(vname)
                if v is None:
                    row.append(None)
                elif vc.kind == "multi":
                    if any(len(sub) != vc.dim for sub in v):
                        raise ValueError(
                            f"multivector {vname or '<default>'!r} rows "
                            f"must have dim {vc.dim}")
                    row.append([[float(x) for x in sub] for sub in v])
                else:
                    if len(v) != vc.dim:
                        raise ValueError(
                            f"vector {vname or '<default>'!r} has dim "
                            f"{len(v)}, expected {vc.dim}")
                    row.append([float(x) for x in v])
            for sname in col.sparse:
                v = vm.get(sname)
                if v is None:
                    row.append(None)
                else:
                    pairs = sorted(zip(v["indices"], v["values"]))
                    row.append(([int(i) for i, _ in pairs],
                                [float(x) for _, x in pairs]))
            payload = p.get("payload") or {}
            for f_ in payload_fields:
                row.append(_conform(payload.get(f_.name), f_.dataType))
            rows.append(tuple(row))
        # Arrow LocalRelation where the shape allows (r15, guide §4/§6):
        # point frames are driver-local and tiny next to the corpus —
        # the pickled-RDD path paid a full python-task job on every
        # later collect/broadcast of the frame. local_df probes the
        # shape (struct/map payloads, NaN) and falls back unchanged.
        return local_df(self.spark, rows, schema)

    @staticmethod
    def _evolve(table: DataFrame, updates: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Schema evolution both ways: new payload columns appear on the
        table as NULL; shared columns are widened to the merged type."""
        t_types = {f_.name: f_.dataType for f_ in table.schema.fields}
        u_types = {f_.name: f_.dataType for f_ in updates.schema.fields}
        for name, ut in u_types.items():
            if name not in t_types:
                table = table.withColumn(name, F.lit(None).cast(ut))
            elif t_types[name] != ut:
                m = _merge_type(t_types[name], ut)
                if m != t_types[name]:
                    table = table.withColumn(name, F.col(name).cast(m))
                if m != ut:
                    updates = updates.withColumn(name, F.col(name).cast(m))
        return table, updates

    def upsert(self, collection_name: str, points: list[dict[str, Any]],
               *, shard_key_selector: Any = None,
               **_ignored: Any) -> UpdateResult:
        """REST ``PUT /collections/{name}/points``. Points are PointStruct
        dicts: ``{"id": ..., "vector": [...] | {name: ...} |
        {"indices": [...], "values": [...]}, "payload": {...}}``. On a
        custom-sharded collection ``shard_key_selector`` names the (single,
        pre-created) shard key the batch lands in."""
        col = self._coll(collection_name)
        self._check_strict(col.name, {}, is_update=True, batch=points)
        updates = self._points_to_df(col, points, shard_key=shard_key_selector)
        untyped = self._last_untyped
        if col.df is None:
            col.null_typed = set(untyped)
            return self._commit(col, updates)
        # a column stored before any batch typed it (null-only /
        # empty-list, finalized to string) re-types to this batch's real
        # type: its stored values are all null/empty, so the cast is safe
        table = col.df
        t_types = {f_.name: f_.dataType for f_ in table.schema.fields}
        for k in sorted(col.null_typed):
            if k in updates.columns and k not in untyped:
                ut = updates.schema[k].dataType
                tt = t_types[k]
                if tt != ut:
                    if isinstance(ut, T.StructType):
                        # struct<> can't cast to struct<fields...>: keep
                        # "was an (empty) object" as all-null fields
                        empty = F.struct(*[
                            F.lit(None).cast(f_.dataType).alias(f_.name)
                            for f_ in ut.fields])
                        table = table.withColumn(
                            k, F.when(F.col(k).isNotNull(), empty))
                    else:
                        table = table.withColumn(k, F.col(k).cast(ut))
                col.null_typed.discard(k)
        col.null_typed |= {k for k in untyped if k not in table.columns}
        table, updates = self._evolve(table, updates)
        return self._commit(
            col, M.upsert_points(table, updates, id_col="id",
                                 version_col="version"))

    def _selector(self, points_selector: Any) -> tuple[list | None, dict | None]:
        """REST PointsSelector: bare id list, {"points": [...]}, or
        {"filter": {...}}."""
        if isinstance(points_selector, dict):
            if "points" in points_selector:
                return list(points_selector["points"]), None
            if "filter" in points_selector:
                return None, points_selector["filter"]
            raise ValueError("points selector needs 'points' or 'filter'")
        return list(points_selector), None

    def _norm_ids(self, col: _Collection, ids: list | None) -> list | None:
        if ids is None:
            return None
        if isinstance(col.id_type, T.StringType):
            return [str(i) for i in ids]
        return ids

    def delete(self, collection_name: str, points_selector: Any,
               **_ignored: Any) -> UpdateResult:
        col = self._coll(collection_name)
        if col.df is None:
            return UpdateResult(operation_id=col.op_counter)
        ids, flt = self._selector(points_selector)
        if flt is not None:
            self._check_strict(col.name, {"filter": flt}, is_update=True)
        return self._commit(col, M.delete_points(
            col.df, ids=self._norm_ids(col, ids), flt=flt, id_col="id"))

    def _retype_never_typed(self, col: _Collection, table: DataFrame,
                            payload: dict[str, Any]) -> DataFrame:
        """A column stored before any batch typed it (null-only /
        empty-list, finalized to string) re-types to this payload's real
        type — the cross-batch upsert rule applied on the payload
        mutation paths. Stored values are all null/empty: cast is safe."""
        for k in sorted(col.null_typed & set(payload)):
            v = payload[k]
            if v in (None, [], {}):
                continue
            want = _finalize_type(_infer_type(v))
            have = table.schema[k].dataType
            if want != have:
                if isinstance(want, T.StructType):
                    empty = F.struct(*[
                        F.lit(None).cast(f_.dataType).alias(f_.name)
                        for f_ in want.fields])
                    table = table.withColumn(
                        k, F.when(F.col(k).isNotNull(), empty))
                else:
                    table = table.withColumn(k, F.col(k).cast(want))
            col.null_typed.discard(k)
        return table

    def set_payload(self, collection_name: str, payload: dict[str, Any], *,
                    points: list | None = None, filter: dict | None = None,
                    key: str | None = None,
                    **_ignored: Any) -> UpdateResult:
        """``key=`` (SetPayloadOp.key): set the payload keys UNDER a
        dotted struct path, preserving sibling subfields."""
        col = self._coll(collection_name)
        if col.df is None:
            return UpdateResult(operation_id=col.op_counter)
        if filter is not None:
            self._check_strict(col.name, {"filter": filter}, is_update=True)
        table = col.df
        if key is None:
            # new payload keys appear as typed columns first
            new_cols = {k: v for k, v in payload.items()
                        if k not in table.columns}
            for k, v in new_cols.items():
                table = table.withColumn(
                    k, F.lit(None).cast(_finalize_type(_infer_type(v))))
            table = self._retype_never_typed(col, table, payload)
        return self._commit(col, M.set_payload(
            table, payload, ids=self._norm_ids(col, points), flt=filter,
            id_col="id", key=key))

    def overwrite_payload(self, collection_name: str, payload: dict[str, Any],
                          *, points: list | None = None,
                          filter: dict | None = None,
                          **_ignored: Any) -> UpdateResult:
        col = self._coll(collection_name)
        if col.df is None:
            return UpdateResult(operation_id=col.op_counter)
        if filter is not None:
            self._check_strict(col.name, {"filter": filter}, is_update=True)
        table = col.df
        for k, v in payload.items():
            if k not in table.columns:
                table = table.withColumn(
                k, F.lit(None).cast(_finalize_type(_infer_type(v))))
        table = self._retype_never_typed(col, table, payload)
        cols = [c for c in col.payload_cols() if c in table.columns] + [
            k for k in payload if k not in col.payload_cols()]
        return self._commit(col, M.overwrite_payload(
            table, payload, cols, ids=self._norm_ids(col, points),
            flt=filter, id_col="id"))

    def delete_payload(self, collection_name: str, keys: list[str], *,
                       points: list | None = None, filter: dict | None = None,
                       **_ignored: Any) -> UpdateResult:
        col = self._coll(collection_name)
        if col.df is None:
            return UpdateResult(operation_id=col.op_counter)
        if filter is not None:
            self._check_strict(col.name, {"filter": filter}, is_update=True)
        # keep dotted struct paths ("meta.b") — the operator nulls the
        # subfield; only keys whose ROOT column is missing are no-ops
        keys = [k for k in keys if k.split(".")[0] in col.df.columns]
        if not keys:
            return UpdateResult(operation_id=col.op_counter)
        return self._commit(col, M.delete_payload(
            col.df, keys, ids=self._norm_ids(col, points), flt=filter,
            id_col="id"))

    def clear_payload(self, collection_name: str, points_selector: Any,
                      **_ignored: Any) -> UpdateResult:
        col = self._coll(collection_name)
        if col.df is None:
            return UpdateResult(operation_id=col.op_counter)
        ids, flt = self._selector(points_selector)
        if flt is not None:
            self._check_strict(col.name, {"filter": flt}, is_update=True)
        return self._commit(col, M.clear_payload(
            col.df, col.payload_cols(), ids=self._norm_ids(col, ids),
            flt=flt, id_col="id"))

    def _vec_value(self, col: _Collection, vname: str, v: Any) -> Any:
        if v is None:
            return None
        if vname in col.sparse:
            pairs = sorted(zip(v["indices"], v["values"]))
            return ([int(i) for i, _ in pairs], [float(x) for _, x in pairs])
        if col.vectors[vname].kind == "multi":
            return [[float(x) for x in sub] for sub in v]
        return [float(x) for x in v]

    def update_vectors(self, collection_name: str,
                       points: list[dict[str, Any]],
                       **_ignored: Any) -> UpdateResult:
        """PointVectors updates: ``{"id": ..., "vector": ...}`` — named
        vectors not mentioned keep their value (one broadcast join, not
        per-point plan nodes)."""
        col = self._coll(collection_name)
        if col.df is None:
            return UpdateResult(operation_id=col.op_counter)
        declared = set(col.vectors) | set(col.sparse)
        mentioned: list[str] = []
        maps = []
        for p in points:
            vm = self._vector_map(col, p["vector"])
            unknown = set(vm) - declared
            if unknown:
                raise ValueError(
                    f"undeclared vector name(s) {sorted(unknown)}; "
                    f"declared: {sorted(declared) or ['<none>']}")
            maps.append(vm)
            for n in vm:
                if n not in mentioned:
                    mentioned.append(n)
        sparse_t = VectorConfig(dim=0, distance="dot", kind="sparse").spark_type
        schema = T.StructType(
            [T.StructField("id", col.id_type, False)]
            + [T.StructField(col.vec_col(n),
                             sparse_t if n in col.sparse
                             else col.vectors[n].spark_type)
               for n in mentioned])
        rows = []
        for p, vm in zip(points, maps):
            pid = str(p["id"]) if isinstance(col.id_type, T.StringType) \
                else p["id"]
            rows.append(tuple([pid] + [
                self._vec_value(col, n, vm.get(n)) for n in mentioned]))
        updates = local_df(self.spark, rows, schema)
        return self._commit(col, M.update_vectors(
            col.df, updates, [col.vec_col(n) for n in mentioned],
            id_col="id"))

    def delete_vectors(self, collection_name: str, vectors: list[str],
                       points_selector: Any, **_ignored: Any) -> UpdateResult:
        col = self._coll(collection_name)
        if col.df is None:
            return UpdateResult(operation_id=col.op_counter)
        ids, flt = self._selector(points_selector)
        return self._commit(col, M.delete_vectors(
            col.df, [col.vec_col(v) for v in vectors],
            ids=self._norm_ids(col, ids), flt=flt, id_col="id"))

    def batch_update_points(self, collection_name: str,
                            update_operations: list[dict[str, Any]],
                            **_ignored: Any) -> list[UpdateResult]:
        """REST ``POST /collections/{name}/points/batch`` — heterogeneous
        update operations applied IN ORDER (UpdateOperations,
        lib/api/src/rest/schema.rs; order is the semantics the reference
        guarantees within one batch request)."""
        results = []
        for op in update_operations:
            if len(op) != 1:
                raise ValueError(f"one operation per entry, got {op!r}")
            kind, body = next(iter(op.items()))
            if kind == "upsert":
                results.append(self.upsert(
                    collection_name, body["points"],
                    shard_key_selector=body.get("shard_key")))
            elif kind == "delete":
                sel = {"points": body["points"]} if "points" in body \
                    else {"filter": body["filter"]}
                results.append(self.delete(collection_name, sel))
            elif kind == "set_payload":
                results.append(self.set_payload(
                    collection_name, body["payload"],
                    points=body.get("points"), filter=body.get("filter")))
            elif kind == "overwrite_payload":
                results.append(self.overwrite_payload(
                    collection_name, body["payload"],
                    points=body.get("points"), filter=body.get("filter")))
            elif kind == "delete_payload":
                results.append(self.delete_payload(
                    collection_name, body["keys"],
                    points=body.get("points"), filter=body.get("filter")))
            elif kind == "clear_payload":
                results.append(self.clear_payload(collection_name, body))
            elif kind == "update_vectors":
                results.append(self.update_vectors(
                    collection_name, body["points"]))
            elif kind == "delete_vectors":
                sel = {"points": body["points"]} if "points" in body \
                    else {"filter": body["filter"]}
                results.append(self.delete_vectors(
                    collection_name, body["vector"], sel))
            else:
                raise ValueError(f"unknown update operation {kind!r}")
        return results

    # -- point reads -----------------------------------------------------------

    def _vector_out(self, col: _Collection, row: dict,
                    with_vectors: bool | list[str]) -> Any:
        if with_vectors is False:
            return None
        names = (list(col.vectors) + list(col.sparse) if with_vectors is True
                 else list(with_vectors))
        out: dict[str, Any] = {}
        for n in names:
            v = row.get(col.vec_col(n))
            if v is None:
                continue
            if n in col.sparse:
                v = {"indices": list(v["indices"]), "values": list(v["values"])}
            out[n] = v
        if set(out) == {""}:
            return out[""]
        return out or None

    def _payload_out(self, col: _Collection, row: dict,
                     with_payload: bool | list[str] | dict) -> dict | None:
        if with_payload is False:
            return None
        cols = col.payload_cols()
        if isinstance(with_payload, dict):
            if "include" in with_payload:
                cols = [c for c in cols if c in set(with_payload["include"])]
            elif "exclude" in with_payload:
                cols = [c for c in cols if c not in set(with_payload["exclude"])]
        elif isinstance(with_payload, list):
            cols = [c for c in cols if c in set(with_payload)]
        return {c: row[c] for c in cols if c in row and row[c] is not None}

    def _rows_as_dicts(self, df: DataFrame) -> list[dict]:
        return [r.asDict(recursive=True) for r in df.collect()]

    def _needed_cols(self, col: _Collection,
                     with_payload: bool | list[str] | dict,
                     with_vectors: bool | list[str]) -> list[str]:
        """Projection for hydration lookups: only the selected payload and
        vector columns reach the scan — a payload-only request must not
        read the (much wider) vector columns (column pruning is the point
        of the columnar layout)."""
        pcols = col.payload_cols()
        if with_payload is False:
            pcols = []
        elif isinstance(with_payload, dict):
            if "include" in with_payload:
                pcols = [c for c in pcols
                         if c in set(with_payload["include"])]
            elif "exclude" in with_payload:
                pcols = [c for c in pcols
                         if c not in set(with_payload["exclude"])]
        elif isinstance(with_payload, list):
            pcols = [c for c in pcols if c in set(with_payload)]
        if with_vectors is False:
            vcols = []
        elif with_vectors is True:
            vcols = col.vec_cols()
        else:
            vcols = [col.vec_col(n) for n in with_vectors]
        return ["id", "version"] + pcols + \
            [c for c in vcols if c in (col.df.columns if col.df is not None
                                       else [])]

    def retrieve(self, collection_name: str, ids: list, *,
                 with_payload: bool | list[str] | dict = True,
                 with_vectors: bool | list[str] = False,
                 shard_key_selector: Any = None,
                 **_ignored: Any) -> list[Record]:
        col = self._coll(collection_name)
        if col.df is None:
            return []
        ids = self._norm_ids(col, ids)
        src = self._route(col, col.df, shard_key_selector)
        need = self._needed_cols(col, with_payload, with_vectors)
        rows = {r["id"]: r for r in self._rows_as_dicts(
            src.select(*need).filter(F.col("id").isin(ids)))}
        return [
            Record(id=i,
                   payload=self._payload_out(col, rows[i], with_payload),
                   vector=self._vector_out(col, rows[i], with_vectors))
            for i in ids if i in rows
        ]

    def scroll(self, collection_name: str, *,
               scroll_filter: dict | None = None, limit: int = 10,
               offset: Any | None = None, order_by: Any | None = None,
               with_payload: bool | list[str] | dict = True,
               with_vectors: bool | list[str] = False,
               shard_key_selector: Any = None,
               **_ignored: Any) -> tuple[list[Record], Any | None]:
        """Returns (records, next_page_offset) — qdrant-client's scroll
        contract (keyset pagination; pass the returned offset back in)."""
        col = self._coll(collection_name)
        if order_by is not None and offset is not None:
            # 400 in the reference: order_by paginates with start_from
            # (openapi test_order_by.py::test_cannot_use_offset_with_order_by)
            raise ValueError("order_by does not support offset; "
                             "paginate with order_by.start_from")
        if col.df is None:
            return [], None
        self._check_strict(col.name, {"filter": scroll_filter,
                                      "limit": limit})
        df = self._route(col, col.df, shard_key_selector)
        flt = scroll_filter
        if flt is not None and col.text_params:
            df = apply_filter(df, flt, text_params=col.text_params,
                              id_col="id")
            flt = None
        ob_key = direction = start_from = None
        if order_by is not None:
            if isinstance(order_by, str):
                ob_key = order_by
            else:
                ob_key = order_by["key"]
                direction = order_by.get("direction")
                start_from = order_by.get("start_from")
        page = P.scroll(df, limit=limit + 1, flt=flt, id_col="id",
                        offset_id=(None if offset is None
                                   else self._norm_ids(col, [offset])[0]),
                        order_by=ob_key, direction=direction or "asc",
                        start_from=start_from)
        # project AFTER scroll (order/filter keys stay available to it);
        # pruning pushes through the sort+limit to the scan
        page = page.select(*self._needed_cols(col, with_payload,
                                              with_vectors))
        rows = self._rows_as_dicts(page)
        nxt = rows[limit]["id"] if len(rows) > limit and ob_key is None \
            else None
        rows = rows[:limit]
        recs = [Record(id=r["id"],
                       payload=self._payload_out(col, r, with_payload),
                       vector=self._vector_out(col, r, with_vectors))
                for r in rows]
        return recs, nxt

    def count(self, collection_name: str, *,
              count_filter: dict | None = None, exact: bool = True,
              shard_key_selector: Any = None,
              **_ignored: Any) -> CountResult:
        col = self._coll(collection_name)
        if col.df is None:
            return CountResult(count=0)
        # CountRequestInternal verification: indexed filter read + exact
        self._check_strict(col.name, {"filter": count_filter,
                                      "exact": exact})
        df = self._route(col, col.df, shard_key_selector)
        flt = count_filter
        if flt is not None and col.text_params:
            df = apply_filter(df, flt, text_params=col.text_params,
                              id_col="id")
            flt = None
        if exact:
            return CountResult(count=P.count(df, flt))
        est, _interval = P.count_estimate(df, flt)
        return CountResult(count=est)

    def facet(self, collection_name: str, key: str, *,
              facet_filter: dict | None = None, limit: int = 10,
              exact: bool = True, shard_key_selector: Any = None,
              **_ignored: Any) -> FacetResponse:
        col = self._coll(collection_name)
        if col.df is None:
            return FacetResponse(hits=[])
        # StrictModeVerification for FacetParams: limit + indexed filter
        # read + exact (verification/facet.rs)
        self._check_strict(col.name, {"filter": facet_filter,
                                      "limit": limit, "exact": exact})
        src = self._route(col, col.df, shard_key_selector)
        if facet_filter is not None and col.text_params:
            # mirror count()/scroll(): pre-apply the filter so declared
            # text-index tokenizer/stemmer/stopword params reach full-text
            # match conditions
            src = apply_filter(src, facet_filter,
                               text_params=col.text_params, id_col="id")
            facet_filter = None
        fn = P.facet if exact else P.facet_estimate
        rows = fn(src, key, limit=limit, flt=facet_filter).collect()
        cnt = "count" if exact else "est_count"
        return FacetResponse(hits=[
            FacetValueHit(value=r["value"], count=r[cnt]) for r in rows])

    # -- queries ---------------------------------------------------------------

    @staticmethod
    def _norm_vec_input(t: Any) -> Any:
        """REST VectorInput: point id | dense vector | multivector |
        sparse vector."""
        if isinstance(t, (int, str)):
            return {"id": t}
        if isinstance(t, dict):
            return t
        t = list(t)
        if t and isinstance(t[0], (list, tuple)):
            return [[float(x) for x in sub] for sub in t]
        return [float(x) for x in t]

    @classmethod
    def _norm_query(cls, query: Any) -> Any:
        """REST QueryInterface -> planner query node."""
        if query is None:
            return None
        if isinstance(query, (int, str)):
            return {"nearest": {"id": query}}             # query by point id
        if isinstance(query, dict):
            if "indices" in query and "values" in query:
                return {"nearest": query}                 # bare sparse vector
            out = dict(query)
            if "nearest" in out:
                out["nearest"] = cls._norm_vec_input(out["nearest"])
            if "recommend" in out:
                r = dict(out["recommend"])
                for side in ("positive", "negative"):
                    r[side] = [cls._norm_vec_input(t)
                               for t in (r.get(side) or [])]
                out["recommend"] = r
            if "discover" in out:
                d = dict(out["discover"])
                d["target"] = cls._norm_vec_input(d["target"])
                d["context"] = [
                    {"positive": cls._norm_vec_input(p["positive"]),
                     "negative": cls._norm_vec_input(p["negative"])}
                    for p in d.get("context") or []]
                out["discover"] = d
            if "context" in out:
                out["context"] = [
                    {"positive": cls._norm_vec_input(p["positive"]),
                     "negative": cls._norm_vec_input(p["negative"])}
                    for p in out["context"] or []]
            return out
        return {"nearest": cls._norm_vec_input(query)}    # bare dense/multi

    @classmethod
    def _norm_request(cls, req: dict[str, Any]) -> dict[str, Any]:
        out = dict(req)
        if "query" in out:
            out["query"] = cls._norm_query(out["query"])
        pf = out.get("prefetch")
        if pf:
            pf = pf if isinstance(pf, list) else [pf]
            out["prefetch"] = [cls._norm_request(p) for p in pf]
        return out

    def _norm_lookup_from(self, lookup_from: dict | str) -> dict | str:
        """LookupLocation carries a vector NAME; the planner wants the
        column — translate via the target collection's naming convention."""
        if isinstance(lookup_from, dict) and lookup_from.get("vector") \
                is not None:
            tgt = self._colls.get(self.catalog._aliases.get(
                lookup_from.get("collection"), lookup_from.get("collection")))
            lookup_from = dict(lookup_from)
            lookup_from["vector"] = (
                tgt.vec_col(lookup_from["vector"]) if tgt is not None
                else lookup_from["vector"])
        return lookup_from

    def _norm_lookup_tree(self, req: dict[str, Any]) -> None:
        """Normalize ``lookup_from`` vector NAMES to columns in-place at
        EVERY node of the request tree (top level + nested prefetches).
        Must run BEFORE ``_apply_sparse_modifiers``: the modifier walk
        resolves id-referenced sparse queries through lookup_from and
        would otherwise select the raw vector NAME as a column
        (AnalysisException on batched/nested requests — r10 ADVICE)."""
        if req.get("lookup_from") is not None:
            req["lookup_from"] = self._norm_lookup_from(req["lookup_from"])
        for p in req.get("prefetch") or []:
            self._norm_lookup_tree(p)

    @staticmethod
    def _translate_using(col: _Collection, req: dict[str, Any]) -> None:
        """In-place vector-NAME -> vec-COLUMN translation for ``using``,
        through the whole prefetch tree (query_points does this for its
        own top level + prefetches; batch requests arrive fully nested)."""
        if "using" in req:
            req["using"] = col.vec_col(req["using"])
        for p in req.get("prefetch") or []:
            QdrantSparkClient._translate_using(col, p)

    def _sparse_idf(self, col: _Collection, name: str,
                    dims: list) -> dict[int, float]:
        """Per-dim corpus IDF, BM25 convention (sparse.idf_df /
        lib/sparse: ln((N - n_d + 0.5) / (n_d + 0.5) + 1)), N = points
        carrying this sparse vector. Cached per (collection, vector,
        op_counter) so mutations invalidate."""
        import math

        key = (col.name, name, col.op_counter)
        cache = self._idf_cache.setdefault(key, {})
        missing = sorted({int(d) for d in dims} - set(cache))
        if missing:
            vc = col.vec_col(name)
            src = col.df.filter(F.col(vc).isNotNull())
            n_docs = src.count()
            rows = (src.select(F.explode(F.col(f"{vc}.indices"))
                               .alias("dim"))
                    .filter(F.col("dim").isin(missing))
                    .groupBy("dim").count().collect())
            nd = {int(r["dim"]): int(r["count"]) for r in rows}
            for d in missing:
                n = nd.get(d, 0)
                cache[d] = math.log((n_docs - n + 0.5) / (n + 0.5) + 1.0)
        return cache

    def _apply_sparse_modifiers(self, col: _Collection,
                                req: dict[str, Any]) -> None:
        """``Modifier::Idf`` on a declared sparse vector
        (SparseVectorParams.modifier, lib/segment/src/types.rs /
        modifier semantics in lib/collection query preprocessing):
        EXPLICIT sparse query values are rescaled by the corpus IDF at
        query time; stored document values stay raw — the same convention
        the ``sparse_idf_knn`` oracle entry pins. Walks the whole
        prefetch tree (call AFTER ``_translate_using``). ID-REFERENCED
        sparse queries on an IDF-modified vector are resolved to the
        stored sparse vector HERE and then rescaled — the reference's
        resolve-then-preprocess order (fetch_vectors.rs resolves
        VectorInput ids before query preprocessing applies the modifier)
        — with the referenced id excluded from results at the root, the
        same exclude_referenced_ids contract the planner applies to ids
        it resolves itself (collection_query.rs:523,705). Id references
        through ``lookup_from`` resolve from the LOOKUP collection and
        rescale by THIS collection's IDF — resolve-then-preprocess again
        — but are NOT excluded from results (the reference keeps
        other-collection ids in, collection_query.rs:550-553)."""
        idf_names = {
            col.vec_col(n): n for n, cfg in col.sparse.items()
            if isinstance(cfg, dict)
            and str(cfg.get("modifier", "")).lower() == "idf"}
        if not idf_names:
            return
        resolved_refs: list = []

        def walk(node: dict[str, Any]) -> None:
            q = node.get("query")
            u = node.get("using")
            if isinstance(q, dict):
                t = q.get("nearest")
                if isinstance(t, dict) and "id" in t and u in idf_names:
                    lf = node.get("lookup_from")
                    if lf is None:
                        src_col, src_df, src_vc = col, col.df, u
                    else:
                        if isinstance(lf, str):
                            lf = {"collection": lf}
                        src_col = self._coll(lf["collection"])
                        src_df = src_col.df
                        src_vc = lf.get("vector") or u
                    pid = self._norm_ids(src_col, [t["id"]])[0]
                    row = src_df.filter(
                        F.col("id") == pid).select(src_vc).first()
                    if row is None or row[0] is None:
                        raise ValueError(
                            f"vector id {t['id']!r} not found")
                    if lf is None:
                        resolved_refs.append(t["id"])
                    t = {"indices": [int(d) for d in row[0]["indices"]],
                         "values": [float(v) for v in row[0]["values"]]}
                    q = dict(q, nearest=t)
                    node["query"] = q
                    node.pop("lookup_from", None)
                if isinstance(t, dict) and "indices" in t \
                        and u in idf_names:
                    idf = self._sparse_idf(col, idf_names[u],
                                           list(t["indices"]))
                    node["query"] = dict(q, nearest={
                        "indices": list(t["indices"]),
                        "values": [float(v) * idf[int(d)]
                                   for d, v in zip(t["indices"],
                                                   t["values"])]})
            for p in node.get("prefetch") or []:
                walk(p)

        walk(req)
        if resolved_refs:
            from qdrant_spark.query import merge_filters

            req["filter"] = merge_filters(
                {"must_not": [{"has_id": sorted(resolved_refs, key=str)}]},
                req.get("filter"))

    def ensure_vector_index(self, collection_name: str, *,
                            using: str = "", n_clusters: int | None = None,
                            indexing_threshold: int | None = None,
                            **_ignored: Any) -> str:
        """Idempotent vector-index maintenance for one named vector — the
        reference's automatic past-threshold indexing surfaced as the
        explicit command a Spark job scheduler would run after ingest
        (plans/maintenance.ensure_ann_index: skip below threshold, build +
        persist, reload on matching meta, rebuild on drift/param change).
        Once built, dense `nearest` queries route through the
        selectivity-aware dispatcher (exact below the plain-scan
        crossover, cluster-pruned above; per-request ``params.exact``
        opts out). Returns the action taken."""
        from qdrant_spark.operators.dispatch import FULL_SCAN_THRESHOLD
        from qdrant_spark.plans.maintenance import ensure_ann_index

        col = self._coll(collection_name)
        if col.df is None:
            return "skipped"
        thr = (FULL_SCAN_THRESHOLD if indexing_threshold is None
               else indexing_threshold)
        if using in col.sparse:
            return self._ensure_sparse_index(col, using, thr)
        vc = col.vectors.get(using)
        declared = dict((vc.index_params if vc is not None else None) or {})
        if n_clusters is None:
            n_clusters = declared.get("n_clusters")
        for kk in ("nprobe", "candidates", "full_scan_threshold",
                   "clustered_points", "prefer_composed",
                   "clustered_codes"):
            if kk in declared and kk not in _ignored:
                _ignored[kk] = declared[kk]
        if vc is not None and vc.kind == "multi":
            if vc.quantization is not None:
                action = self._ensure_maxsim_sq_index(col, using, vc, thr)
                if n_clusters is not None and action != "skipped":
                    # explicit clustering params compose the token-IVF
                    # route WITH the token codes (the dense quantized
                    # posture mirrored, r12): the planner then runs
                    # probe-clusters -> coarse-over-candidate-codes ->
                    # exact-rescore (maxsim_quant_ivf_leaves)
                    a2 = self._ensure_maxsim_index(
                        col, using, thr, n_clusters=n_clusters,
                        **_ignored)
                    if _ignored.get("clustered_codes") \
                            and a2 != "skipped":
                        # r14: the declared CODES invlist — the composed
                        # coarse stage then file-prunes to the probed
                        # clusters' code files; rebuilt whenever either
                        # parent index was (it derives from both)
                        self._ensure_maxsim_codes(
                            col, using,
                            parents_fresh=(
                                action not in ("exists", "loaded")
                                or a2 not in ("exists", "loaded")))
                    if a2 not in ("exists", "loaded"):
                        action = a2 if action in ("exists", "loaded") \
                            else action
                return action
            return self._ensure_maxsim_index(col, using, thr,
                                             n_clusters=n_clusters or 16,
                                             **_ignored)
        if vc is None or vc.kind != "dense":
            raise ValueError("vector index needs a declared dense vector")
        if vc.quantization is not None:
            # explicit clustering params (kwarg or declared per-vector
            # index config) compose the cluster structure WITH the codes
            # — probe clusters, score codes, rescore floats, the
            # reference's quantized-HNSW posture; without them the codes
            # alone are built (pure byte-width pruning, exact modulo
            # oversampling)
            return self._ensure_quant_index(
                col, using, vc, thr, n_clusters=n_clusters,
                nprobe=_ignored.get("nprobe", 4))
        if self.root is not None:
            path = os.path.join(self.root, col.name,
                                f"index_{using or 'default'}")
            idx, action = ensure_ann_index(
                col.df, path, n_clusters=n_clusters or 16,
                vec_col=col.vec_col(using), id_col="id",
                indexing_threshold=thr)
        else:
            if col.df.count() < thr:
                return "skipped"
            from qdrant_spark.operators.ann import build_ivf

            idx, action = build_ivf(
                col.df, n_clusters=n_clusters or 16,
                vec_col=col.vec_col(using),
                id_col="id"), "built"
        if idx is not None:
            col.ivf[using] = idx
        return action

    def _ensure_quant_index(self, col: _Collection, using: str,
                            vc: "VectorConfig", thr: int,
                            n_clusters: int | None = None,
                            nprobe: int = 4) -> str:
        """Quantized analogue of the dense ensure: build the codes the
        declared ``quantization_config`` describes (build_quant dispatches
        scalar/product/binary/turbo — the reference quantizes segment
        storage from the same config, quantized_vectors.rs). With a
        storage root the (id, code) columns are persisted as their own
        narrow parquet (persist_quant), so the coarse stage scans 1-4
        B/dim instead of recomputing codes from the float column. Once
        registered, dense `nearest` queries run coarse+rescore through it
        (per-request SearchParams.quantization opts out/tunes).

        With ``n_clusters`` (explicit kwarg or the vector's declared
        index params) the ensure builds the COMPOSED index instead —
        cluster-partitioned (id, __cluster, code) storage searched
        probe-clusters -> score-codes -> exact-rescore, the reference's
        HNSW-over-quantized-codes deployment
        (hnsw_quantized_search_test.rs). The coarse handle registers too
        so `quantization.ignore` / filtered requests keep their planned
        routes."""
        if n_clusters is not None:
            if using in col.quant_ivf:
                return "exists"
            from qdrant_spark.plans.maintenance import ensure_quant_ivf_index

            if self.root is not None:
                path = os.path.join(self.root, col.name,
                                    f"quant_ivf_index_{using or 'default'}")
                qih, action = ensure_quant_ivf_index(
                    col.df, path, vc.quantization,
                    n_clusters=int(n_clusters), nprobe=int(nprobe),
                    vec_col=col.vec_col(using), id_col="id", dim=vc.dim,
                    indexing_threshold=thr,
                    corpus_signature=self._points_signature(col))
            else:
                if col.df.count() < thr:
                    return "skipped"
                from qdrant_spark.operators.quantize import (
                    build_quant, compose_quant_ivf,
                )
                from qdrant_spark.operators.ann import build_ivf

                handle = build_quant(
                    col.df, vc.quantization, vec_col=col.vec_col(using),
                    id_col="id", dim=vc.dim)
                ivf = build_ivf(col.df, n_clusters=int(n_clusters),
                                vec_col=col.vec_col(using), id_col="id")
                qih, action = compose_quant_ivf(
                    handle, ivf, nprobe=int(nprobe)), "built"
            if qih is not None:
                col.quant_ivf[using] = qih
                col.quant[using] = qih.handle
            return action
        if using in col.quant:
            return "exists"
        if self.root is not None:
            from qdrant_spark.plans.maintenance import ensure_quant_index

            path = os.path.join(self.root, col.name,
                                f"quant_index_{using or 'default'}")
            handle, action = ensure_quant_index(
                col.df, path, vc.quantization,
                vec_col=col.vec_col(using), id_col="id", dim=vc.dim,
                indexing_threshold=thr)
            if handle is not None:
                col.quant[using] = handle
            return action
        from qdrant_spark.operators.quantize import build_quant

        if col.df.count() < thr:
            return "skipped"
        col.quant[using] = build_quant(
            col.df, vc.quantization, vec_col=col.vec_col(using),
            id_col="id", dim=vc.dim)
        return "built"

    def _ensure_maxsim_index(self, col: _Collection, using: str,
                             thr: int, *, n_clusters: int = 16,
                             nprobe: int = 4,
                             candidates: int | None = None,
                             full_scan_threshold: int | None = None,
                             clustered_points: bool = False,
                             prefer_composed: bool = False,
                             **_ignored: Any) -> str:
        """Multivector analogue of the dense ensure: cluster the corpus's
        token vectors (multivec.build_maxsim_ivf — the coarse structure
        the reference gets from HNSW over multivector storage,
        multivector_hnsw_test.rs); with a storage root the ensure is
        meta-matched (plans/maintenance.ensure_maxsim_index): a restarted
        session LOADS the cluster-partitioned token frame + centroids
        instead of re-clustering, and rebuilds on param change or corpus
        drift — the same lifecycle the quant/dense ensures have. Once
        registered, MaxSim queries route through the pruned plan with the
        declared ``nprobe`` / ``candidates`` — but ONLY above the
        exact-vs-pruned crossover (``full_scan_threshold`` docs, default
        multivec.MAXSIM_FULL_SCAN_THRESHOLD; the bench measured the
        pruned path 3.4x slower at 512k docs). Per-request
        ``params.exact`` and filtered requests keep the exact scan.

        ``clustered_points=True`` (kwarg or declared in the vector's
        index params) also builds the INVLIST layout — the full rows
        stored once per distinct doc token-cluster, partitioned by
        cluster — so routed queries prune the float-token SCAN at the
        file level; the planner then prefers that route over the
        composed quantized ladder (r14; ``prefer_composed`` overrides
        for cold-IO deployments). It needs a storage root (the layout
        IS a persisted artifact); without one the plain route builds.
        The ensure passes the points table's file-listing digest as
        ``corpus_signature``, so count-stable content drift (e.g.
        update_vectors) rebuilds the frozen layout instead of serving
        stale floats."""
        from qdrant_spark.operators.multivec import (
            MaxSimRoute, build_maxsim_ivf,
        )

        if using in col.mv_idx:
            return "exists"
        n = col.df.count()
        if self.root is not None:
            from qdrant_spark.plans.maintenance import ensure_maxsim_index

            path = os.path.join(self.root, col.name,
                                f"maxsim_index_{using or 'default'}")
            idx, action = ensure_maxsim_index(
                col.df, path, n_clusters=n_clusters,
                mv_col=col.vec_col(using), id_col="id",
                indexing_threshold=thr, total=n,
                clustered_points=bool(clustered_points),
                corpus_signature=self._points_signature(col))
        else:
            if n < thr:
                return "skipped"
            idx, action = build_maxsim_ivf(
                col.df, n_clusters=n_clusters,
                mv_col=col.vec_col(using), id_col="id"), "built"
        if idx is not None:
            col.mv_idx[using] = MaxSimRoute(
                index=idx, nprobe=nprobe, candidates=candidates,
                full_scan_threshold=full_scan_threshold, n_docs=n,
                prefer_composed=bool(prefer_composed))
        return action

    def _ensure_maxsim_codes(self, col: _Collection, using: str, *,
                             parents_fresh: bool) -> str:
        """Build/load the composed route's CODES invlist (r14 —
        declared via ``{"index": {"clustered_codes": true}}``): the
        quantized token codes stored once per distinct (doc, token
        cluster), cluster-partitioned, so the composed coarse stage
        file-prunes (maxsim_knn_quant_ivf reads it off the route).
        Derives from BOTH the token-cluster index and the quantized
        storage — rebuilt whenever either parent ensure built/rebuilt,
        loaded otherwise; needs a storage root (the layout IS a
        persisted artifact; in-memory composed plans keep the
        candidate-broadcast semi-join)."""
        from dataclasses import replace

        route = col.mv_idx.get(using)
        qidx = col.mv_sq.get(using)
        if route is None or qidx is None or self.root is None:
            return "skipped"
        from qdrant_spark.plans.maintenance import ensure_maxsim_codes

        path = os.path.join(self.root, col.name,
                            f"maxsim_codes_{using or 'default'}")
        idx2, action = ensure_maxsim_codes(
            route.index, qidx, path, force_rebuild=parents_fresh,
            total=route.n_docs,
            corpus_signature=self._points_signature(col))
        col.mv_idx[using] = replace(route, index=idx2)
        return action

    def _ensure_maxsim_sq_index(self, col: _Collection, using: str,
                                vc: "VectorConfig", thr: int) -> str:
        """Quantized multivector storage from a declared
        ``quantization_config`` (ANY kind since r12 —
        quantized_vectors.rs treats multivectors like any other kind):
        int8 token codes (scalar), 1-bit packed token words (binary),
        codebook indices (product) or rotated Lloyd-Max codes (turbo)
        for the coarse MaxSim scan, float tokens only for the
        oversampled rescore. Meta-matched ensure with a storage root;
        per-request ``SearchParams.quantization`` tunes/ignores."""
        from qdrant_spark.operators.quantize import _TQ_BITS, quant_kind

        if using in col.mv_sq:
            return "exists"
        if self.root is not None:
            from qdrant_spark.plans.maintenance import ensure_maxsim_sq_index

            path = os.path.join(self.root, col.name,
                                f"maxsim_sq_index_{using or 'default'}")
            idx, action = ensure_maxsim_sq_index(
                col.df, path, vc.quantization,
                mv_col=col.vec_col(using), id_col="id",
                indexing_threshold=thr)
        else:
            n = col.df.count()
            if n < thr:
                return "skipped"
            from dataclasses import replace

            qk = quant_kind(vc.quantization)
            cfg = vc.quantization[qk] or {}
            over = float(cfg.get("oversampling", 4.0))
            mvc, idc = col.vec_col(using), "id"
            if qk == "binary":
                from qdrant_spark.operators.multivec import build_maxsim_bq

                idx = build_maxsim_bq(
                    col.df, mv_col=mvc, id_col=idc,
                    encoding=cfg.get("encoding", "one_bit"),
                    query_encoding=cfg.get("query_encoding", "default"),
                    oversampling=over)
            elif qk == "product":
                from qdrant_spark.operators.multivec import build_maxsim_pq

                idx = build_maxsim_pq(
                    col.df, mv_col=mvc, id_col=idc,
                    compression=str(cfg.get("compression", "x8")),
                    oversampling=over)
            elif qk == "turbo":
                from qdrant_spark.operators.multivec import build_maxsim_tq

                bits = _TQ_BITS.get(str(cfg.get("bits", "bits4")))
                if bits is None:
                    raise ValueError(
                        f"unknown turbo bits {cfg.get('bits')!r}")
                idx = build_maxsim_tq(
                    col.df, mv_col=mvc, id_col=idc, bits=bits,
                    oversampling=over)
            else:
                from qdrant_spark.operators.multivec import build_maxsim_sq

                idx = build_maxsim_sq(
                    col.df, mv_col=mvc, id_col=idc,
                    quantile=float(cfg.get("quantile", 0.99)),
                    oversampling=over)
            idx, action = replace(
                idx, full_scan_threshold=cfg.get("full_scan_threshold"),
                n_docs=n), "built"
        if idx is not None:
            col.mv_sq[using] = idx
        return action

    def _ensure_sparse_index(self, col: _Collection, using: str,
                             thr: int) -> str:
        """Sparse analogue of the dense ensure: one explode pass over the
        named sparse struct column builds the (id, dim, v) inverted index;
        with a storage root it is persisted dim-bucket-partitioned so the
        query's dims become PartitionFilters. Once registered, sparse
        `nearest` legs route through it instead of re-exploding the corpus
        per query — the reference ALWAYS searches sparse through its
        inverted index (lib/sparse/src/index/search_context.rs:37-91,
        inverted_index_ram.rs; it has no sparse full-scan path at all,
        hence the low default threshold here)."""
        from qdrant_spark.operators.sparse import (
            build_sparse_index, persist_sparse_index)

        if using in col.sparse_idx:
            return "exists"
        if col.df.count() < thr:
            return "skipped"
        vc = col.vec_col(using)
        idx = build_sparse_index(
            col.df, id_col="id",
            indices_col=f"{vc}.indices", values_col=f"{vc}.values")
        if self.root is not None:
            path = os.path.join(self.root, col.name, f"sparse_index_{using}")
            idx = persist_sparse_index(idx, path)
        col.sparse_idx[using] = idx
        return "built"

    def _planner(self, col: _Collection, using: str | None) -> QueryPlanner:
        registry = {n: (c.df if isinstance(c, _Collection) else c)
                    for n, c in self._colls.items() if c.df is not None}
        return QueryPlanner(
            col.df, id_col="id",
            default_vec_col=col.vec_col(using or ""),
            metric=col.metric_for(using),
            collections=registry,
            text_params=col.text_params or None,
            ivf_index=col.ivf.get(using or ""),
            ivf_indexes={col.vec_col(n): idx
                         for n, idx in col.ivf.items()},
            metrics=col.metrics_map(),
            sparse_indexes={col.vec_col(n): idx
                            for n, idx in col.sparse_idx.items()},
            quant_indexes={col.vec_col(n): h
                           for n, h in col.quant.items()},
            maxsim_indexes={col.vec_col(n): rt
                            for n, rt in col.mv_idx.items()},
            quant_ivf_indexes={col.vec_col(n): qih
                               for n, qih in col.quant_ivf.items()},
            maxsim_sq_indexes={col.vec_col(n): h
                               for n, h in col.mv_sq.items()},
        )

    def _hydrate(self, col: _Collection, scored: DataFrame, *,
                 with_payload: bool | list[str] | dict,
                 with_vectors: bool | list[str],
                 direction: bool | None = None,
                 rank_col: str | None = None) -> list[ScoredPoint]:
        """Attach payload/vectors to a scored frame. When ``direction``
        says the result order is (score direction, id asc) — the planner's
        last_plan_direction — or ``rank_col`` carries an explicit plan
        order (the planner's last_plan_rank_col for MMR/sample roots),
        hydration is ONE job: join before the collect and re-sort
        driver-side. Otherwise the plan's order is authoritative and
        hydration is a second bounded id-lookup job."""
        if rank_col is not None and rank_col not in scored.columns:
            rank_col = None
        if (direction is not None or rank_col is not None) \
                and (with_payload is not False or with_vectors is not False):
            need = self._needed_cols(col, with_payload, with_vectors)
            if not {"score", rank_col} & set(need):  # a payload column
                joined = scored.join(          # named "score"/rank would
                    col.df.select(*need), "id", "left")  # collide
                rows = self._rows_as_dicts(joined)
                if rank_col is not None:
                    rows.sort(key=lambda r: r[rank_col])
                else:
                    rows.sort(key=lambda r: (
                        -r["score"] if direction else r["score"], r["id"]))
                return [ScoredPoint(
                    id=r["id"], score=float(r["score"]),
                    version=r.get("version"),
                    payload=self._payload_out(col, r, with_payload),
                    vector=self._vector_out(col, r, with_vectors))
                    for r in rows]
        if rank_col is not None and with_payload is False \
                and with_vectors is False:
            # bare collect (no payload/vectors): still one job — sort the
            # collected rows by the explicit rank
            hits = sorted(scored.collect(), key=lambda r: r[rank_col])
            return [ScoredPoint(id=h["id"], score=float(h["score"]),
                                version=None, payload=None, vector=None)
                    for h in hits]
        hits = scored.collect()
        if not hits:
            return []
        rows: dict[Any, dict] = {}
        if with_payload is not False or with_vectors is not False:
            ids = [h["id"] for h in hits]
            need = self._needed_cols(col, with_payload, with_vectors)
            rows = {r["id"]: r for r in self._rows_as_dicts(
                col.df.select(*need).filter(F.col("id").isin(ids)))}
        out = []
        for h in hits:
            r = rows.get(h["id"], {})
            out.append(ScoredPoint(
                id=h["id"], score=float(h["score"]),
                version=r.get("version"),
                payload=self._payload_out(col, r, with_payload) if r else None,
                vector=self._vector_out(col, r, with_vectors) if r else None))
        return out

    def query_points(self, collection_name: str, *,
                     query: Any = None, using: str | None = None,
                     prefetch: list[dict] | dict | None = None,
                     query_filter: dict | None = None,
                     limit: int = 10, offset: int = 0,
                     score_threshold: float | None = None,
                     with_payload: bool | list[str] | dict = True,
                     with_vectors: bool | list[str] = False,
                     lookup_from: dict | str | None = None,
                     shard_key_selector: Any = None,
                     search_params: dict | None = None,
                     params: dict | None = None,
                     **_ignored: Any) -> QueryResponse:
        """REST ``POST /collections/{name}/points/query`` — the universal
        query API: bare vector / point id / sparse vector / recommend /
        discover / context / order_by / sample leaves, fusion / formula /
        mmr roots over ``prefetch`` trees."""
        col = self._coll(collection_name)
        if col.df is None:
            return QueryResponse(points=[])
        req: dict[str, Any] = {"query": self._norm_query(query),
                               "limit": limit}
        if using:
            req["using"] = col.vec_col(using)
        if prefetch is not None:
            pf = prefetch if isinstance(prefetch, list) else [prefetch]
            pf = [self._norm_request(p) for p in pf]
            for p in pf:
                self._translate_using(col, p)
            req["prefetch"] = pf
        if query_filter is not None:
            req["filter"] = query_filter
        if offset:
            req["offset"] = offset
        if score_threshold is not None:
            req["score_threshold"] = score_threshold
        if lookup_from is not None:
            req["lookup_from"] = lookup_from
        if params or search_params:
            # SearchParams (params/search_params in qdrant-client): the
            # engine-applicable knob is `exact` — a per-request opt-out of
            # ANN/index routing (SearchParams::exact, types.rs); the
            # HNSW-internals knobs have no analogue here
            req["params"] = dict(search_params or {}, **(params or {}))
        self._norm_lookup_tree(req)
        self._apply_sparse_modifiers(col, req)
        self._check_strict(col.name, req)
        points = self._route(col, col.df, shard_key_selector)
        planner = self._planner(col, using)
        planner.points = points
        # MMR/sample roots attach an explicit plan-order rank so
        # hydration below stays a single job (r8 VERDICT item 5)
        planner.emit_rank = True
        if shard_key_selector is not None:
            # a registered IVF index covers the WHOLE corpus; routing
            # through it would leak other shards' points — shard-scoped
            # requests stay exact over the routed partition directories
            planner.ivf_index = None
            planner.ivf_indexes = {}
            planner.sparse_indexes = {}
            planner.quant_indexes = {}
            planner.maxsim_indexes = {}
            planner.quant_ivf_indexes = {}
            planner.maxsim_sq_indexes = {}
        scored = planner.plan(req)
        out = self._hydrate(col, scored, with_payload=with_payload,
                            with_vectors=with_vectors,
                            direction=planner.last_plan_direction,
                            rank_col=planner.last_plan_rank_col)
        planner.close()
        return QueryResponse(points=out)

    def query_points_groups(self, collection_name: str, *, group_by: str,
                            query: Any = None, using: str | None = None,
                            prefetch: list[dict] | dict | None = None,
                            query_filter: dict | None = None,
                            limit: int = 10, group_size: int = 3,
                            score_threshold: float | None = None,
                            with_payload: bool | list[str] | dict = True,
                            with_vectors: bool | list[str] = False,
                            with_lookup: dict | str | None = None,
                            shard_key_selector: Any = None,
                            **_ignored: Any) -> GroupsResult:
        """REST ``POST /collections/{name}/points/query/groups``; ``limit``
        counts groups (as in the reference). ``shard_key_selector`` scopes
        the whole grouped query to the selected shards (ShardSelector on
        the groups API), bypassing whole-corpus indexes like every other
        shard-scoped request."""
        col = self._coll(collection_name)
        if col.df is None:
            return GroupsResult(groups=[])
        req: dict[str, Any] = {"query": self._norm_query(query)}
        if using:
            req["using"] = col.vec_col(using)
        if prefetch is not None:
            pf = prefetch if isinstance(prefetch, list) else [prefetch]
            pf = [self._norm_request(p) for p in pf]
            for p in pf:
                self._translate_using(col, p)
            req["prefetch"] = pf
        if query_filter is not None:
            req["filter"] = query_filter
        if score_threshold is not None:
            req["score_threshold"] = score_threshold
        self._norm_lookup_tree(req)
        self._apply_sparse_modifiers(col, req)
        self._check_strict(col.name, {**req, "limit": limit})
        planner = self._planner(col, using)
        if shard_key_selector is not None:
            planner.points = self._route(col, col.df, shard_key_selector)
            planner.ivf_index = None
            planner.ivf_indexes = {}
            planner.sparse_indexes = {}
            planner.quant_indexes = {}
            planner.maxsim_indexes = {}
            planner.quant_ivf_indexes = {}
            planner.maxsim_sq_indexes = {}
        lookup = lookup_cols = None
        if with_lookup is not None:
            if isinstance(with_lookup, str):
                lookup = with_lookup
            else:
                lookup = with_lookup["collection"]
                wp = with_lookup.get("with_payload")
                if isinstance(wp, list):
                    lookup_cols = wp
        grouped = planner.plan_groups(
            req, group_by_field=group_by, groups=limit,
            group_size=group_size, lookup=lookup, lookup_cols=lookup_cols)
        # group_by returns its rows unordered: best group first, best hit
        # first within a group, sorted in Python (no Spark sort or exchange)
        rows = sorted(self._rows_as_dicts(grouped),
                      key=lambda r: (r["group_rank"], r["rank_in_group"]))
        planner.close()
        groups: dict[Any, PointGroup] = {}
        hydr = {p.id: p for p in self._hydrate(
            col,
            local_df(
                self.spark,
                [(r["id"], r["score"]) for r in rows],
                col.df.select("id").withColumn("score", F.lit(0.0)).schema),
            with_payload=with_payload, with_vectors=with_vectors)}
        lookup_keys = [k for k in (rows[0].keys() if rows else [])
                       if k.startswith("lookup_")]
        for r in rows:
            gv = r["group_value"]
            if gv not in groups:
                lk = {k[len("lookup_"):]: r[k] for k in lookup_keys} \
                    if lookup_keys else None
                groups[gv] = PointGroup(id=gv, hits=[], lookup=lk)
            sp = hydr[r["id"]]
            groups[gv].hits.append(ScoredPoint(
                id=sp.id, score=float(r["score"]), version=sp.version,
                payload=sp.payload, vector=sp.vector))
        return GroupsResult(groups=list(groups.values()))

    def query_batch_points(self, collection_name: str,
                           requests: list[dict[str, Any]],
                           **_ignored: Any) -> list[QueryResponse]:
        """REST ``POST /collections/{name}/points/query/batch``."""
        col = self._coll(collection_name)
        if col.df is None:
            return [QueryResponse(points=[]) for _ in requests]
        cfg = self.catalog.get_strict_mode(col.name)
        if cfg is not None:
            check_strict_mode({}, cfg,
                              indexed_fields=self._indexed_fields(col.name),
                              batch=requests)
        from qdrant_spark.query import query_batch

        norm = []
        for r in requests:
            n = self._norm_request(r)
            self._translate_using(col, n)
            # lookup_from normalizes BEFORE the modifier walk — the walk
            # resolves id-referenced sparse queries through it (r10
            # ADVICE: the old after-order selected the raw vector NAME
            # as a column on batched IDF requests)
            self._norm_lookup_tree(n)
            self._apply_sparse_modifiers(col, n)
            self._check_strict(col.name, n)
            norm.append(n)
        registry = {n: cc.df for n, cc in self._colls.items()
                    if cc.df is not None}
        tagged = query_batch(col.df, norm, id_col="id",
                             vec_col=col.vec_col(""),
                             metric=col.metric_for(None),
                             collections=registry,
                             metrics=col.metrics_map(),
                             sparse_indexes={col.vec_col(n): idx
                                             for n, idx
                                             in col.sparse_idx.items()},
                             ivf_index=col.ivf.get(""),
                             ivf_indexes={col.vec_col(n): idx
                                          for n, idx in col.ivf.items()},
                             quant_indexes={col.vec_col(n): h
                                            for n, h in col.quant.items()},
                             maxsim_indexes={col.vec_col(n): rt
                                             for n, rt in col.mv_idx.items()},
                             quant_ivf_indexes={col.vec_col(n): qih
                                                for n, qih
                                                in col.quant_ivf.items()},
                             maxsim_sq_indexes={col.vec_col(n): h
                                                for n, h
                                                in col.mv_sq.items()})
        by_idx: dict[int, list] = {}
        for r in tagged.collect():
            by_idx.setdefault(r["request_idx"], []).append(r)
        # ONE hydration lookup for the whole batch (not one id-lookup scan
        # per request): the union of all hit ids against the union of the
        # requested columns, assembled per request driver-side in each
        # request's own plan order / payload selection
        selections = []
        for i in range(len(norm)):
            wp = requests[i].get("with_payload", True)
            wv = requests[i].get("with_vector",
                                 requests[i].get("with_vectors", False))
            selections.append((wp, wv))
        all_ids = {h["id"] for hits in by_idx.values() for h in hits}
        rows: dict[Any, dict] = {}
        if all_ids and any(wp is not False or wv is not False
                           for wp, wv in selections):
            need: list[str] = []
            for i, (wp, wv) in enumerate(selections):
                if not by_idx.get(i):
                    continue
                for c in self._needed_cols(col, wp, wv):
                    if c not in need:
                        need.append(c)
            rows = {r["id"]: r for r in self._rows_as_dicts(
                col.df.select(*need).filter(F.col("id").isin(list(all_ids))))}
        out = []
        for i, req in enumerate(norm):
            hits = by_idx.get(i, [])
            if not hits:
                out.append(QueryResponse(points=[]))
                continue
            wp, wv = selections[i]
            pts = []
            for h in hits:
                r = rows.get(h["id"], {})
                pts.append(ScoredPoint(
                    id=h["id"], score=float(h["score"]),
                    version=r.get("version"),
                    payload=self._payload_out(col, r, wp) if r else None,
                    vector=self._vector_out(col, r, wv) if r else None))
            out.append(QueryResponse(points=pts))
        return out

    # -- distance matrix ---------------------------------------------------------

    def search_matrix_pairs(self, collection_name: str, *,
                            query_filter: dict | None = None,
                            sample: int = 10, limit: int = 3,
                            using: str | None = None,
                            **_ignored: Any) -> list[dict[str, Any]]:
        from qdrant_spark.operators.matrix import distance_matrix

        col = self._coll(collection_name)
        if col.df is None:
            return []
        # StrictModeVerification for CollectionSearchMatrixRequest:
        # query_limit = limit_per_sample * sample_size + indexed filter
        # read (verification/matrix.rs)
        self._check_strict(col.name, {"filter": query_filter,
                                      "limit": limit * sample})
        rows = distance_matrix(
            col.df, sample_size=sample, limit_per_sample=limit,
            metric=col.metric_for(using), vec_col=col.vec_col(using or ""),
            id_col="id", flt=query_filter).collect()
        return [{"a": r["id_a"], "b": r["id_b"], "score": float(r["score"])}
                for r in rows]

    def search_matrix_offsets(self, collection_name: str, *,
                              query_filter: dict | None = None,
                              sample: int = 10, limit: int = 3,
                              using: str | None = None,
                              **_ignored: Any) -> dict[str, Any]:
        from qdrant_spark.operators.matrix import distance_matrix_offsets

        col = self._coll(collection_name)
        if col.df is None:
            return {"ids": [], "offsets_row": [], "offsets_col": [],
                    "scores": []}
        self._check_strict(col.name, {"filter": query_filter,
                                      "limit": limit * sample})
        row = distance_matrix_offsets(
            col.df, sample_size=sample, limit_per_sample=limit,
            metric=col.metric_for(using), vec_col=col.vec_col(using or ""),
            id_col="id", flt=query_filter).collect()
        if not row:
            return {"ids": [], "offsets_row": [], "offsets_col": [],
                    "scores": []}
        r = row[0]
        return {"ids": list(r["ids"]),
                "offsets_row": list(r["offsets_row"]),
                "offsets_col": list(r["offsets_col"]),
                "scores": [float(s) for s in r["scores"]]}

    # -- legacy client methods (pre-universal-query API, still in qdrant-client)

    def search(self, collection_name: str, query_vector: Any, *,
               query_filter: dict | None = None, limit: int = 10,
               offset: int = 0, score_threshold: float | None = None,
               with_payload: bool | list[str] | dict = True,
               with_vectors: bool | list[str] = False,
               **_ignored: Any) -> list[ScoredPoint]:
        """Legacy ``search``: named vectors via the ``(name, vector)``
        tuple form."""
        using = None
        if isinstance(query_vector, tuple) and len(query_vector) == 2 \
                and isinstance(query_vector[0], str):
            using, query_vector = query_vector
        return self.query_points(
            collection_name, query=query_vector, using=using,
            query_filter=query_filter, limit=limit, offset=offset,
            score_threshold=score_threshold, with_payload=with_payload,
            with_vectors=with_vectors,
            search_params=_ignored.get("search_params")).points

    # -- snapshots (POST/GET/DELETE /collections/{c}/snapshots) ---------------

    def _table(self, col: _Collection):
        from qdrant_spark.sources.parquet import PointsTable

        if self.root is None:
            raise ValueError("snapshots need a root-backed client "
                             "(QdrantSparkClient(spark, root=...))")
        return PointsTable(self.spark,
                           os.path.join(self.root, col.name, "points"))

    def create_snapshot(self, collection_name: str,
                        **_ignored: Any) -> dict[str, Any]:
        col = self._coll(collection_name)
        t = self._table(col)
        name = t.create_snapshot()
        return next(m for m in t.list_snapshots() if m["name"] == name)

    def list_snapshots(self, collection_name: str,
                       **_ignored: Any) -> list[dict[str, Any]]:
        return self._table(self._coll(collection_name)).list_snapshots()

    def recover_snapshot(self, collection_name: str, name: str,
                         **_ignored: Any) -> bool:
        col = self._coll(collection_name)
        t = self._table(col)
        t.restore_snapshot(name)
        # _commit restores the declared layout (shard partitioning) too
        self._commit(col, t.read())
        return True

    def delete_snapshot(self, collection_name: str, name: str,
                        **_ignored: Any) -> bool:
        return self._table(self._coll(collection_name)).delete_snapshot(name)

    def recommend(self, collection_name: str, *, positive: list | None = None,
                  negative: list | None = None, strategy: str = "average_vector",
                  query_filter: dict | None = None, limit: int = 10,
                  using: str | None = None,
                  with_payload: bool | list[str] | dict = True,
                  **_ignored: Any) -> list[ScoredPoint]:
        return self.query_points(
            collection_name,
            query={"recommend": {"positive": positive or [],
                                 "negative": negative or [],
                                 "strategy": strategy}},
            using=using, query_filter=query_filter, limit=limit,
            with_payload=with_payload,
            offset=_ignored.get("offset", 0),
            score_threshold=_ignored.get("score_threshold"),
            with_vectors=_ignored.get("with_vectors", False),
            lookup_from=_ignored.get("lookup_from")).points

    def discover(self, collection_name: str, *, target: Any = None,
                 context: list[dict] | None = None,
                 query_filter: dict | None = None, limit: int = 10,
                 using: str | None = None,
                 with_payload: bool | list[str] | dict = True,
                 **_ignored: Any) -> list[ScoredPoint]:
        """Legacy discover / context search: with a target it's discover,
        without it pure context scoring."""
        if target is not None:
            query = {"discover": {"target": target,
                                  "context": context or []}}
        else:
            query = {"context": context or []}
        return self.query_points(
            collection_name, query=query, using=using,
            query_filter=query_filter, limit=limit,
            with_payload=with_payload,
            offset=_ignored.get("offset", 0),
            with_vectors=_ignored.get("with_vectors", False),
            lookup_from=_ignored.get("lookup_from")).points

    def search_groups(self, collection_name: str, query_vector: Any, *,
                      group_by: str, limit: int = 10, group_size: int = 3,
                      query_filter: dict | None = None,
                      with_lookup: dict | str | None = None,
                      **_ignored: Any) -> GroupsResult:
        using = None
        if isinstance(query_vector, tuple) and len(query_vector) == 2 \
                and isinstance(query_vector[0], str):
            using, query_vector = query_vector
        return self.query_points_groups(
            collection_name, group_by=group_by, query=query_vector,
            using=using, query_filter=query_filter, limit=limit,
            group_size=group_size, with_lookup=with_lookup)

    def search_batch(self, collection_name: str,
                     requests: list[dict[str, Any]],
                     **_ignored: Any) -> list[list[ScoredPoint]]:
        """Legacy batch search: [{"vector": [...], "filter": ...,
        "limit": n}, ...]. The vector accepts the named forms too —
        ``("name", [...])`` / ``{"name": ..., "vector": [...]}``
        (NamedVector) — which set ``using`` so the leg searches and ranks
        by that vector's declared distance."""
        norm = []
        for r in requests:
            vec = r.get("vector")
            using = r.get("using")
            if isinstance(vec, tuple) and len(vec) == 2 \
                    and isinstance(vec[0], str):
                using, vec = vec
            elif isinstance(vec, dict) and "name" in vec \
                    and not ("indices" in vec or "values" in vec):
                using, vec = vec["name"], vec["vector"]
            n: dict[str, Any] = {"query": vec, "limit": r.get("limit", 10)}
            if using:
                n["using"] = using
            for k_in, k_out in (("filter", "filter"), ("offset", "offset"),
                                ("score_threshold", "score_threshold"),
                                ("with_payload", "with_payload"),
                                ("with_vector", "with_vector")):
                if r.get(k_in) is not None:
                    n[k_out] = r[k_in]
            norm.append(n)
        return [resp.points
                for resp in self.query_batch_points(collection_name, norm)]

    def get_point(self, collection_name: str, point_id: Any,
                  **_ignored: Any) -> Record:
        """GET /collections/{c}/points/{id} — single-point retrieve with
        payload and vectors (404-equivalent: KeyError)."""
        recs = self.retrieve(collection_name, [point_id],
                             with_payload=True, with_vectors=True)
        if not recs:
            raise KeyError(f"point {point_id!r} not found")
        return recs[0]

    def recommend_batch(self, collection_name: str,
                        requests: list[dict[str, Any]],
                        **_ignored: Any) -> list[list[ScoredPoint]]:
        """Legacy /points/recommend/batch: [{"positive": [...],
        "negative": [...], "strategy": ..., "using": ..., "filter": ...,
        "limit": n}]."""
        norm = []
        for r in requests:
            n: dict[str, Any] = {
                "query": {"recommend": {
                    "positive": r.get("positive") or [],
                    "negative": r.get("negative") or [],
                    "strategy": r.get("strategy", "average_vector")}},
                "limit": r.get("limit", 10)}
            for k in ("using", "filter", "offset", "score_threshold",
                      "with_payload", "with_vector", "lookup_from"):
                if r.get(k) is not None:
                    n[k] = r[k]
            norm.append(n)
        return [resp.points
                for resp in self.query_batch_points(collection_name, norm)]

    def recommend_groups(self, collection_name: str, *, group_by: str,
                         positive: list | None = None,
                         negative: list | None = None,
                         strategy: str = "average_vector",
                         query_filter: dict | None = None,
                         limit: int = 10, group_size: int = 3,
                         with_lookup: dict | str | None = None,
                         **_ignored: Any) -> GroupsResult:
        return self.query_points_groups(
            collection_name, group_by=group_by,
            query={"recommend": {"positive": positive or [],
                                 "negative": negative or [],
                                 "strategy": strategy}},
            query_filter=query_filter, limit=limit, group_size=group_size,
            with_lookup=with_lookup)

    def discover_batch(self, collection_name: str,
                       requests: list[dict[str, Any]],
                       **_ignored: Any) -> list[list[ScoredPoint]]:
        """Legacy /points/discover/batch."""
        norm = []
        for r in requests:
            if r.get("target") is not None:
                q = {"discover": {"target": r["target"],
                                  "context": r.get("context") or []}}
            else:
                q = {"context": r.get("context") or []}
            n: dict[str, Any] = {"query": q, "limit": r.get("limit", 10)}
            for k in ("using", "filter", "offset", "with_payload",
                      "with_vector", "lookup_from"):
                if r.get(k) is not None:
                    n[k] = r[k]
            norm.append(n)
        return [resp.points
                for resp in self.query_batch_points(collection_name, norm)]

    def get_aliases(self) -> dict[str, str]:
        """alias -> collection, across all collections."""
        return dict(self.catalog._aliases)

    def get_collection_aliases(self, collection_name: str) -> dict[str, str]:
        return self.catalog.list_aliases(collection_name)
