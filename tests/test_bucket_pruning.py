"""Hash-bucket pruning of key lookups (``LakeTable.read`` / ``count``
with ``where=``): an ``=`` / ``in`` predicate on the bucket key reads
only the literals' buckets, computed on the driver by a pure-Python
port of Spark's XXH64.

The contract under test: the port agrees with Spark's ``xxhash64`` /
``bucket_expr``, ``read(where=P) == read().filter(P)`` and
``count(where=P) == read().filter(P).count()`` for every layout, the
pruned scan touches only the key's bucket, and the pruning itself runs
no Spark job.
"""

from __future__ import annotations

import json
from urllib.parse import unquote, urlparse

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.functions.keys import (
    bucket_expr,
    bucket_of,
    xxh64,
)
from kafka_jdbc_sink_connector_spark.lake.stats import predicate_column
from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

from tests.test_apply_batch import _events_df, audit_col, ev

#: zero-padded and unpadded twins ("0007" / "7"): an int literal 7
#: matches both once Spark casts the string column, so it must not prune
CONVS = [f"{i:04d}" for i in range(12)] + ["7", "123", "0123"]


# -- the XXH64 port ----------------------------------------------------


def _strings():
    out = []
    for n in range(101):  # crosses the 4-, 8- and 32-byte paths
        out.append("".join(chr(97 + (i * 7 + n) % 26) for i in range(n)))
        out.append("é" * (n // 2) + "日本" * (n % 3) + "x" * (n % 5))
    return out + ["conv-%08d" % 100, "\U0001f600 emoji"]


def test_xxh64_port_matches_spark_strings(spark):
    rows = spark.createDataFrame([(s,) for s in _strings()], "s string")
    got = rows.select(
        "s",
        F.xxhash64("s").alias("h"),
        bucket_expr("s", 7).alias("b7"),
        bucket_expr("s", 1024).alias("b1024"),
    ).collect()
    assert len(got) == len(_strings())
    for r in got:
        assert xxh64(r["s"].encode("utf-8")) == r["h"], r["s"]
        assert bucket_of(r["s"], T.StringType(), 7) == r["b7"], r["s"]
        assert bucket_of(r["s"], T.StringType(), 1024) == r["b1024"]


@pytest.mark.parametrize(
    "dtype,values",
    [
        (T.IntegerType(), [0, 1, -1, 7, -123456, 2**31 - 1, -(2**31)]),
        (T.LongType(), [0, 1, -1, 7, 2**40 + 3, -(2**40), 2**63 - 1,
                        -(2**63)]),
    ],
)
def test_xxh64_port_matches_spark_ints(spark, dtype, values):
    rows = spark.createDataFrame(
        [(v,) for v in values], T.StructType([T.StructField("v", dtype)])
    )
    got = rows.select(
        "v", F.xxhash64("v").alias("h"), bucket_expr("v", 13).alias("b")
    ).collect()
    for r in got:
        assert bucket_of(r["v"], dtype, 13) == r["b"], r["v"]
        assert r["h"] % 13 == r["b"]


def test_bucket_of_fallbacks():
    s, i, lng = T.StringType(), T.IntegerType(), T.LongType()
    assert bucket_of(None, s, 8) is None  # NULL literal
    assert bucket_of(7, s, 8) is None  # Spark casts the column
    assert bucket_of("7", i, 8) is None
    assert bucket_of(True, i, 8) is None  # bool is not an int key
    assert bucket_of(1.0, lng, 8) is None
    assert bucket_of(2**31, i, 8) is None  # outside the column type
    assert bucket_of(1, T.DoubleType(), 8) is None  # unported key type
    assert bucket_of("\ud800", s, 8) is None  # not UTF-8 encodable
    assert bucket_of("", T.StringType("UTF8_LCASE"), 8) is None


# -- read(where=) == read().filter(), count(where=) == its count --------


def _rows(df):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["op_type"], r["text"])
        for r in df.collect()
    )


#: (where, prunes?) — prunes? says whether the bucket key is pinned
PREDICATES = [
    ([("conv_id", "=", "0003")], True),
    ([("conv_id", "==", "0123")], True),
    ([("conv_id", "in", ["0003", "0009", "absent"])], True),
    ([("conv_id", "in", ("0003", "0009")), ("conv_id", "=", "0009")], True),
    ([("conv_id", "in", ["0003"]), ("conv_id", "=", "0009")], True),
    ([("conv_id", "in", [])], True),
    ([("conv_id", "=", "0005"), ("turn_idx", ">=", 1)], True),
    ([("conv_id", "=", None)], False),
    ([("conv_id", "=", 7)], False),
    ([("conv_id", "in", ["0003", None])], False),
    ([("turn_idx", "=", 1)], False),
]


def _check(t, version=None):
    snap = t.snapshot if version is None else t._read_version(version)
    for where, prunes in PREDICATES:
        scope = snap.key_buckets(where)
        assert (scope is not None) == prunes, where
        got = t.read(where=where, version=version)
        want = t.read(version=version).filter(predicate_column(where))
        assert _rows(got) == _rows(want), where
        if version is None:
            assert t.count(where=where) == want.count(), where
        if scope is not None and len(scope) < snap.n_buckets:
            assert len(got.inputFiles()) < len(t.read(version=version)
                                               .inputFiles()), where


def _events(convs, off0, op="c", turns=2, **kw):
    return [
        ev(off0 + i * turns + j, op, c, j, **kw)
        for i, c in enumerate(convs)
        for j in range(turns)
    ]


def _applier(spark, path, **kw):
    kw.setdefault("n_buckets", 8)
    return CdcApplier(spark, SinkConfig(**kw), path, audit_ts=audit_col())


def test_cow_equals_post_filter(spark, tmp_table):
    ap = _applier(spark, tmp_table)
    ap.apply_batch(_events_df(spark, _events(CONVS, 0)), batch_id=0)
    ap.apply_batch(
        _events_df(spark, _events(CONVS[::3], 1000, op="u", text="rev")),
        batch_id=1,
    )
    t = ap.table()
    assert not t.snapshot.hot_buckets()
    _check(t)
    # the int literal matches both zero-padded and unpadded twins
    assert {r["conv_id"] for r in
            t.read(where=[("conv_id", "=", 7)]).collect()} == {"0007", "7"}


def test_mor_unresolved_deltas_equal_post_filter(spark, tmp_table):
    ap = _applier(spark, tmp_table, merge_mode="mor")
    ap.apply_batch(_events_df(spark, _events(CONVS, 0)), batch_id=0)
    ap.apply_batch(
        _events_df(
            spark,
            _events(["0003", "0123"], 1000, op="u", text="zz")
            + [ev(2000, "d", "0009", 0), ev(2001, "c", "0999", 0)],
        ),
        batch_id=1,
    )
    t = ap.table()
    hot = t.snapshot.hot_buckets()
    assert hot and len(hot) < t.snapshot.n_buckets
    _check(t)
    got = t.read(where=[("conv_id", "=", "0003"), ("text", "=", "zz")])
    assert len(got.collect()) == 2  # the delta is visible through where


def test_mor_subset_delete_overlays_equal_post_filter(spark, tmp_table):
    ap = _applier(spark, tmp_table, merge_mode="mor",
                  pk_fields=("conv_id", "turn_idx"),
                  delete_as_update_key=("conv_id",))
    ap.apply_batch(_events_df(spark, _events(CONVS, 0, turns=3)),
                   batch_id=0)
    sdel = [{"kafka_partition": 0, "kafka_offset": 5000 + i, "op": "d",
             "conv_id": c, "turn_idx": None,
             "ts": ev(5000 + i, "d", c, 0)["ts"]}
            for i, c in enumerate(["0003", "0123"])]
    ap.apply_batch(_events_df(spark, sdel), batch_id=1)
    t = ap.table()
    assert t.snapshot.sdel_buckets
    _check(t)
    ops = {r["op_type"] for r in
           t.read(where=[("conv_id", "=", "0003")]).collect()}
    assert ops == {"D"}


def test_rebucketed_table_prunes_by_read_snapshot(spark, tmp_table):
    from kafka_jdbc_sink_connector_spark.lake.maintenance import rebucket

    ap = _applier(spark, tmp_table, n_buckets=4)
    ap.apply_batch(_events_df(spark, _events(CONVS, 0)), batch_id=0)
    t = ap.table()
    before = t.version
    rebucket(t, 16)
    t = LakeTable.load(spark, tmp_table)
    assert t.snapshot.n_buckets == 16
    assert t._read_version(before).n_buckets == 4
    _check(t)
    _check(t, version=before)
    for v, n in ((None, 16), (before, 4)):
        df = t.read(where=[("conv_id", "=", "0123")], version=v,
                    include_bucket=True)
        assert {r["__bucket"] for r in df.collect()} == {
            bucket_of("0123", T.StringType(), n)
        }


@pytest.mark.parametrize("dtype", [T.IntegerType(), T.LongType()])
def test_numeric_key_equals_post_filter(spark, tmp_path, dtype):
    schema = T.StructType(
        [T.StructField("k", dtype), T.StructField("v", T.LongType())]
    )
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, n_buckets=8,
                         key_fields=["k"])
    keys = list(range(-20, 20)) + [2**31 - 1, -(2**31)]
    t.commit_append(
        t.with_bucket(spark.createDataFrame([(k, k * 3) for k in keys],
                                            schema))
    )
    for where, prunes in [
        ([("k", "=", 5)], True),
        ([("k", "in", [-7, 2**31 - 1, 99])], True),
        ([("k", "=", 5.0)], False),
        ([("k", "=", "5")], False),
    ]:
        assert (t.snapshot.key_buckets(where) is not None) == prunes, where
        got = sorted(tuple(r) for r in t.read(where=where).collect())
        want = sorted(tuple(r) for r in
                      t.read().filter(predicate_column(where)).collect())
        assert got == want, where
        assert t.count(where=where) == len(want), where


# -- what a pruned lookup reads, and what it costs ----------------------


def _paths(df):
    return {unquote(urlparse(f).path) for f in df.inputFiles()}


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_lookup_reads_only_its_bucket(spark, tmp_table, merge_mode):
    import os

    ap = _applier(spark, tmp_table, merge_mode=merge_mode)
    ap.apply_batch(_events_df(spark, _events(CONVS, 0)), batch_id=0)
    ap.apply_batch(
        _events_df(spark, _events(["0003"], 1000, op="u", text="zz")),
        batch_id=1,
    )
    t = ap.table()
    snap = t.snapshot
    for key in ("0003", "0123"):
        b = bucket_of(key, T.StringType(), snap.n_buckets)
        own = {
            os.path.join(t.path, f)
            for f in snap.files([b]) + snap.delta_files([b])
        }
        got = _paths(t.read(where=[("conv_id", "=", key)]))
        assert got and got <= own, key
    assert len(got) < len(_paths(t.read()))


def test_bucket_pruning_starts_no_spark_job(spark, tmp_table):
    ap = _applier(spark, tmp_table)
    ap.apply_batch(_events_df(spark, _events(CONVS, 0)), batch_id=0)
    t = ap.table()
    sc = spark.sparkContext
    group = "test-bucket-pruning-no-jobs"
    sc.setJobGroup(group, "bucket ids are computed on the driver")
    try:
        scope = t.snapshot.key_buckets(
            [("conv_id", "in", [f"{i:04d}" for i in range(50)])]
        )
        bucket_of(2**40, T.LongType(), 1024)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert scope and len(scope) <= t.snapshot.n_buckets
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_cli_count_matches_unpruned(spark, tmp_table, capsys):
    from kafka_jdbc_sink_connector_spark import cli

    ap = _applier(spark, tmp_table)
    ap.apply_batch(_events_df(spark, _events(CONVS, 0)), batch_id=0)
    full = ap.table().read()
    for key in ("0123", "123", "0007", "absent"):
        cli.main(["count", "--table", tmp_table,
                  "--where", f"conv_id:=:{key}"])
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # '0123' stays a string (conv_id is a string column), so it
        # hashes as a string and never matches '123'
        assert out["where"] == [["conv_id", "=", key]]
        assert out["rows"] == full.filter(F.col("conv_id") == key).count()
    assert out["rows"] == 0
