"""Zero false negatives for every membership kind × key type × probe path.

The kinds come from the FilterKind table (``sketches.base.FILTER_KINDS``),
so a newly registered kind is covered without touching this file. Every
path must find every inserted key, whatever the key column's storage
type: builds hash integral keys at bigint width, and a probe path that
hashed a narrow integer column with the JVM 4-byte kernel instead would
answer every probe with a silent false negative.

Probe paths: the broadcast SQL UDF, the cogroup join probe, the
driver-side probe, the runtime-filter semi-join, the runtime-filter
branch of the join planner, and map-side enrichment (its own two kinds:
the retrieval map and its Bloom guard).
"""

import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.functions import probe_keys_local, register_contains_udf
from prefix_filter_spark.operators.filter_join import runtime_filter_join
from prefix_filter_spark.operators.join_planner import plan_equi_join
from prefix_filter_spark.operators.map_enrich import build_enrichment_map, enrich
from prefix_filter_spark.sketches.base import (
    FILTER_KINDS,
    ShardedFilter,
    build_sharded,
    collect_states,
)
from prefix_filter_spark.sketches.probe import probe_via_join

DTYPES = ["tinyint", "smallint", "int", "bigint", "string"]
KINDS = sorted(name for name, kind in FILTER_KINDS.items() if kind.out_dtype is bool)
PATHS = ["udf", "join", "local", "runtime_filter", "plan_equi_join"]

N = 100  # members 2i - 100 for i < N: every value fits a tinyint
SPAN, REPEAT = 120, 3  # fact keys -SPAN..SPAN, each REPEAT times
MEMBER_ROWS = N * REPEAT

_BUILT: dict = {}


def _members(spark, dtype):
    return spark.range(N).select((F.col("id") * 2 - 100).cast(dtype).alias("k"))


def _fact(spark, dtype):
    width = 2 * SPAN + 1
    return spark.range(width * REPEAT).select(
        ((F.col("id") % width) - SPAN).cast(dtype).alias("fk")
    )


def _built(spark, kind, dtype):
    """(cfg, handle, shard rows) for one kind over one key type, built once."""
    if (kind, dtype) not in _BUILT:
        cfg = FILTER_KINDS[kind].config_cls(n_capacity=1024, num_shards=4, seed=11)
        states = collect_states(build_sharded(_members(spark, dtype), "k", cfg))
        shards = spark.createDataFrame(
            sorted(states.items()), "shard_id int, state binary"
        )
        _BUILT[kind, dtype] = cfg, ShardedFilter(cfg, states), shards
    return _BUILT[kind, dtype]


@pytest.mark.parametrize("path", PATHS)
@pytest.mark.parametrize("dtype", DTYPES)
@pytest.mark.parametrize("kind", KINDS)
def test_zero_fn(spark, kind, dtype, path):
    members = _members(spark, dtype)
    if path == "udf":
        cfg, handle, _ = _built(spark, kind, dtype)
        fn = register_contains_udf(spark, f"zfn_{kind}", handle, cfg.seed)
        assert members.where(fn("k", members)).count() == N
    elif path == "join":
        cfg, _, shards = _built(spark, kind, dtype)
        out = probe_via_join(members, "k", shards, cfg)
        assert out.where("contains").count() == N
    elif path == "local":
        _, handle, _ = _built(spark, kind, dtype)
        keys = [2 * i - 100 for i in range(N)]
        if dtype == "string":
            keys = [str(k) for k in keys]
        assert bool(probe_keys_local(handle, keys).all())
    else:
        fact = _fact(spark, dtype)
        if path == "runtime_filter":
            out = runtime_filter_join(spark, fact, members, "fk", "k", kind=kind)
        else:
            out, dec = plan_equi_join(
                spark, fact, members, "fk", "k",
                broadcast_row_limit=0, rf_containment_max=1.0, rf_kind=kind,
            )
            assert dec.strategy == "runtime_filter"
        # the pruned join is a subset of the plain join: equal counts
        # mean no member row was pruned
        assert out.count() == MEMBER_ROWS


@pytest.mark.parametrize("dtype", DTYPES)
def test_zero_fn_enrich(spark, dtype):
    dim = _members(spark, dtype).withColumn("v", F.abs(F.xxhash64("k")) % 1000)
    fact = _fact(spark, dtype)
    em = build_enrichment_map(dim, "k", "v")
    got = enrich(spark, fact, "fk", em, "val").join(dim, F.col("fk") == F.col("k"))
    assert got.where(F.col("val") == F.col("v")).count() == MEMBER_ROWS
