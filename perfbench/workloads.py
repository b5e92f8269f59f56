"""The benchmark workloads.

Every workload is a closed loop with one client: the next micro-batch
is offered only after the previous call returns, as under
``foreachBatch``. Inputs come from ``datagen.generate_cdc_events`` with
the run's seed; the amount of timed work is fixed by ``--seconds`` and
per-workload constants (``NOMINAL_STEP_S``, calibrated once on a 4-core
host), so both sides of a comparison do the same work.

A workload supplies:

* ``inputs()``   generate and stage the inputs (timed apart, kept out of
  ``setup_s``);
* ``setup()``    one set-up: a fresh table, bootstrapped. The run calls it
  several times and times each; what follows runs on the last one;
* ``finish_setup()``  set-up done once, after the last one (attach and
  bootstrap followers; name the fresh backfill table);
* ``step(i)``    one step: ``WARMUP_STEPS`` of them warm the JVM up
  (their time counts in ``setup_s``), the next ``n_steps`` are timed.
  Returns the wall time of the call the user waits on (``batch_s``), the
  events it applied and, untraced, the Spark jobs and tasks it started;
  ``mor_read_write`` adds its read and lookup times;
* ``comparisons()``  the (expected, actual) pairs of the correctness
  gate; expected sides come from ``reference``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager, nullcontext
from urllib.parse import unquote, urlparse

from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.datagen import (
    GenSpec, generate_cdc_events)
from kafka_jdbc_sink_connector_spark.lake.table import LakeTable
from kafka_jdbc_sink_connector_spark.sources import kafka
from kafka_jdbc_sink_connector_spark.sources.registry import (
    DictSchemaRegistry)
from kafka_jdbc_sink_connector_spark.streaming.aggview import AggViewRunner
from kafka_jdbc_sink_connector_spark.streaming.cascade import CascadeRunner
from kafka_jdbc_sink_connector_spark.streaming.runner import (
    CdcStreamRunner)

import reference
from spans import spark_counts

#: steady stream: the table is built from the first half, steady
#: batches are 0.5% of the stream each (bench.py's "100 TB shape")
STEADY_EVENTS = 100_000
STEADY_BATCH = STEADY_EVENTS // 200
N_BUCKETS = 8


def timed_steps(seconds: int, nominal_step_s: float) -> int:
    """At least three, and odd, so the median is one measured step."""
    n = max(3, round(seconds / nominal_step_s))
    return n if n % 2 else n - 1


def data_bytes(table_path: str) -> int:
    """Parquet bytes under a table's data dir."""
    total = 0
    for root, _dirs, files in os.walk(os.path.join(table_path, "data")):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


class Workload:
    name = ""
    #: seconds one timed step takes on the seed code (sizes the run)
    NOMINAL_STEP_S = 1.0
    #: steps run after the set-ups and before the timed ones
    WARMUP_STEPS = 0

    def __init__(self, spark, work: str, seed: int, seconds: int,
                 tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_steps = timed_steps(seconds, self.NOMINAL_STEP_S)
        self.tracer = tracer
        self.n_setups = 0
        #: (operation, ok, detail) for every correctness check made
        self.checks: list[tuple[str, bool, str]] = []

    def span(self, name: str):
        """A span when tracing, else a no-op context."""
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def counted(self, key: str):
        """Runs the body under a job group of its own; yields a dict
        that gets the Spark ``jobs`` and ``tasks`` the body started. In
        a traced run the spans own the job groups and the dict stays
        empty."""
        out: dict = {}
        if self.tracer:
            yield out
            return
        sc = self.spark.sparkContext
        group = f"pb-count-{key}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield out
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out["jobs"], _, out["tasks"] = spark_counts(sc, group)

    def expect(self, what: str, ok: bool, detail: str = "") -> None:
        self.checks.append((what, bool(ok), detail))

    def finish_setup(self) -> None:
        pass

    def check(self) -> None:
        """The correctness gate: every comparison in one job."""
        for what, (ok, msg) in reference.same_rows(
                self.comparisons()).items():
            self.expect(what, ok, msg)

    # the table every workload writes, read back by reads and lookups
    def target(self) -> LakeTable:
        return LakeTable.load(self.spark, self.table_path)

    def full_read(self) -> int:
        with self.span("lake.mor.resolve"):
            return self.target().read().count()

    def lookup(self, conv_id: str) -> int:
        with self.span("lake.mor.resolve"):
            return self.target().count(where=[("conv_id", "=", conv_id)])

    def lookup_keys(self) -> list[str]:
        """A hot key (Zipf head) and a cooler one. Fixed, not drawn from
        the seed: the files a lookup reads depend on where its key falls
        in the files' ``conv_id`` ranges (with conv 3 as the second key,
        lookups read under half the bytes they read with any of conv
        18..196), and that would make the seed, not the code, move
        ``lookup_scan_bytes``."""
        return ["conv-%08d" % 0, "conv-%08d" % 100]

    def lookup_files(self, key: str) -> list[str]:
        """Paths of the files a point lookup's plan reads."""
        df = self.target().read(where=[("conv_id", "=", key)])
        return [unquote(urlparse(f).path) for f in df.inputFiles()]

    def lookup_files_frac(self) -> float:
        """Files a lookup's plan reads / files in the snapshot."""
        n = len(self.target().snapshot.all_files())
        read = len(self.lookup_files(self.lookup_keys()[1]))
        return read / n if n else 0.0

    def lookup_scan_bytes(self) -> float:
        """Bytes of the files a point lookup's plan reads, mean over
        the lookup keys."""
        sizes = [sum(os.path.getsize(f) for f in self.lookup_files(k))
                 for k in self.lookup_keys()]
        return sum(sizes) / len(sizes)


class _Steady(Workload):
    """Shared shape of the micro-batch workloads: bootstrap half the
    stream, then batches of 0.5% through ``CdcStreamRunner``."""

    merge_mode = "cow"
    delete_mode = "update"
    compact_every: int | None = None

    def inputs(self) -> None:
        # both evolution steps fall inside the bootstrap, so every
        # steady batch has one shape
        spec = GenSpec(n_events=STEADY_EVENTS,
                       n_conversations=STEADY_EVENTS // 100,
                       seed=self.seed, v1_until=0.25, v2_until=0.45)
        path = os.path.join(self.work, "events")
        generate_cdc_events(self.spark, spec, partitions=4) \
            .write.parquet(path)
        self.events = self.spark.read.parquet(path)
        self.half = STEADY_EVENTS // 2
        need = self.half + (self.WARMUP_STEPS + self.n_steps) \
            * STEADY_BATCH
        if need > STEADY_EVENTS:
            raise ValueError(f"--seconds too large: stream has room for "
                             f"{(STEADY_EVENTS - self.half) // STEADY_BATCH}"
                             f" batches")

    def cfg(self) -> SinkConfig:
        # no in-process retries: a failed apply fails the run instead
        # of hiding behind a retry
        return SinkConfig(n_buckets=N_BUCKETS, merge_mode=self.merge_mode,
                          delete_mode=self.delete_mode, max_retries=0,
                          mor_compact_every_batches=self.compact_every)

    def setup(self) -> None:
        self.root = os.path.join(self.work, f"setup{self.n_setups}")
        self.n_setups += 1
        self.table_path = os.path.join(self.root, "target")
        self.applier = CdcApplier(self.spark, self.cfg(), self.table_path)
        self.runner = CdcStreamRunner(
            self.applier, checkpoint_dir=os.path.join(self.root, "ckpt"))
        self.hi = 0
        self.batch_id = 0
        self._offer(self.half)

    def _offer(self, hi: int):
        batch = self.events.filter((F.col("kafka_offset") >= self.hi)
                                   & (F.col("kafka_offset") < hi))
        res = self.runner.process_batch(batch, self.batch_id)
        self.expect(f"batch {self.batch_id} applied every event",
                    res.n_events == hi - self.hi and not res.n_quarantined
                    and not res.skipped,
                    f"n_events={res.n_events} quarantined="
                    f"{res.n_quarantined}")
        self.hi = hi
        self.batch_id += 1
        return res

    def step(self, i: int) -> dict:
        with self.counted(f"batch{i}") as out:
            t0 = time.perf_counter()
            self._offer(self.hi + STEADY_BATCH)
            batch_s = time.perf_counter() - t0
        return {"batch_s": batch_s, "events": STEADY_BATCH, **out}

    def comparisons(self) -> dict:
        want = reference.expected_state(
            self.spark, self.events, self.hi,
            soft_delete=self.delete_mode == "update")
        return {"target equals last-writer-wins reference":
                (want, self.target().read())}


class SteadyCow(_Steady):
    """Per-batch fixed cost: COW micro-batches of 500 events (0.5% of a
    100k-event stream, half of it bootstrapped). Not in BENCHMARK.json
    (its path runs in view_follow's bronze stream); run it by hand."""

    name = "steady_cow"
    NOMINAL_STEP_S = 1.0
    WARMUP_STEPS = 6


class MorReadWrite(_Steady):
    """MOR trades write cost for read cost: steady_cow's stream in MOR,
    compaction every 4 batches, and after every batch one full resolved
    read and two point lookups by ``conv_id``. At ``--seconds 6``, three
    timed batches, the last of them compacting, so the median batch is a
    delta commit."""

    name = "mor_read_write"
    merge_mode = "mor"
    compact_every = 4
    NOMINAL_STEP_S = 1.6
    WARMUP_STEPS = 1

    def step(self, i: int) -> dict:
        out = super().step(i)
        t0 = time.perf_counter()
        self.full_read()
        out["read_s"] = [time.perf_counter() - t0]
        out["lookup_s"] = []
        for key in self.lookup_keys():
            t0 = time.perf_counter()
            self.lookup(key)
            out["lookup_s"].append(time.perf_counter() - t0)
        return out


class ViewFollow(_Steady):
    """Follower syncs: steady_cow's batches into a hard-delete bronze
    table whose runner keeps a GROUP BY ``conv_id`` view (turn count,
    last ``ts``) and a ``role='tool'`` silver cascade in step."""

    name = "view_follow"
    delete_mode = "delete"
    NOMINAL_STEP_S = 3.8

    def finish_setup(self) -> None:
        """Attach the followers to the last set-up's runner and
        bootstrap them (full aggregate / full filtered copy)."""
        self.runner.followers = self.followers(self.root)
        for f in self.runner.followers:
            f.sync()

    def followers(self, root: str) -> list:
        self.view = CdcApplier(
            self.spark,
            SinkConfig(pk_fields=("conv_id",), n_buckets=N_BUCKETS // 2,
                       delete_mode="delete", delete_retain_fields=(),
                       max_retries=0),
            os.path.join(root, "view"))
        self.silver = CdcApplier(
            self.spark,
            SinkConfig(n_buckets=N_BUCKETS, delete_mode="delete",
                       max_retries=0),
            os.path.join(root, "silver"))
        bronze = os.path.join(root, "target")
        return [
            AggViewRunner(self.spark, bronze, self.view, ["conv_id"],
                          {"n_turns": F.count(F.lit(1)),
                           "last_ts": F.max("ts")}),
            CascadeRunner(self.spark, bronze, self.silver,
                          row_filter=F.col("role") == "tool"),
        ]

    def comparisons(self) -> dict:
        bronze = self.target().read()
        return {
            **super().comparisons(),
            "view equals GROUP BY over bronze": (
                bronze.groupBy("conv_id").agg(
                    F.count(F.lit(1)).alias("n_turns"),
                    F.max("ts").alias("last_ts")),
                self.view.read_target()),
            "silver equals filter over bronze": (
                bronze.filter(F.col("role") == "tool").drop("audit_ts"),
                self.silver.read_target()),
        }


# --- bulk backfill: Avro-framed Kafka records -------------------------

_AVRO_FIELDS = [
    {"name": "op", "type": "string"},
    {"name": "conv_id", "type": "string"},
    {"name": "turn_idx", "type": "int"},
    {"name": "role", "type": ["null", "string"]},
    {"name": "text", "type": ["null", "string"]},
    {"name": "ts", "type": {"type": "long",
                            "logicalType": "timestamp-micros"}},
    {"name": "schema_version", "type": "int"},
]


def avro_schemas() -> dict[int, str]:
    """Registry id -> writer schema for the generator's three versions
    (v2 adds ``tool``, v3 adds ``meta_source``)."""
    extra = [{"name": "tool", "type": ["null", "string"]},
             {"name": "meta_source", "type": ["null", "string"]}]
    return {
        100 + v: json.dumps({"type": "record", "name": "transcript_event",
                             "fields": _AVRO_FIELDS + extra[:v - 1]})
        for v in (1, 2, 3)
    }


def _encode_partition(frames):
    """mapInPandas body: generated events -> Kafka wire records with
    Confluent-framed Avro values (magic 0, 4-byte schema id, body)."""
    import pandas as pd

    from kafka_jdbc_sink_connector_spark.sources.avro import encode_record

    schemas = avro_schemas()
    for pdf in frames:
        values = []
        for rec in pdf.to_dict("records"):
            sid = 100 + int(rec["schema_version"])
            rec = {k: (None if v is None or v != v else v)
                   for k, v in rec.items()}
            rec["ts"] = rec["ts"].to_pydatetime()
            values.append(b"\x00" + sid.to_bytes(4, "big")
                          + encode_record(schemas[sid], rec))
        yield pd.DataFrame({
            "key": [None] * len(pdf),
            "value": values,
            "topic": "transcripts",
            "partition": pdf["kafka_partition"].astype("int32"),
            "offset": pdf["kafka_offset"].astype("int64"),
            "timestamp": pdf["ts"],
            "timestampType": 0,
        })


class BulkBackfill(Workload):
    """Volume work: drain a backlog of Kafka wire records with
    Confluent-framed Avro values (the generator's three schema versions,
    resolved through a registry, so the table evolves mid-stream) in
    10k-event batches into a fresh COW table."""

    name = "bulk_backfill"
    BATCH = 10_000
    #: events each set-up applies to its scratch table
    SETUP_BATCH = 2_000
    NOMINAL_STEP_S = 2.6

    def inputs(self) -> None:
        self.n_events = self.BATCH * self.n_steps
        spec = GenSpec(n_events=self.n_events,
                       n_conversations=self.n_events // 100,
                       seed=self.seed)
        # the generator is a pure function of the seed: the reference
        # recomputes the events rather than reading them back
        self.events = generate_cdc_events(self.spark, spec, partitions=4)
        wire = os.path.join(self.work, "wire")
        self.events.mapInPandas(_encode_partition,
                                kafka.KAFKA_WIRE_SCHEMA) \
            .write.parquet(wire)
        self.wire = self.spark.read.parquet(wire)
        self.registry = DictSchemaRegistry(avro_schemas())

    def cfg(self) -> SinkConfig:
        return SinkConfig(n_buckets=N_BUCKETS, max_retries=0)

    def _apply(self, i: int, lo: int, hi: int) -> dict:
        # the jobs counted are the decode's (registry harvest) and the
        # apply's; the time is the apply's
        with self.counted(f"{self.table_path}-{i}") as out:
            records = self.wire.filter((F.col("offset") >= lo)
                                       & (F.col("offset") < hi))
            parsed = kafka.parse_kafka_records(
                records, None, self.applier.cfg, value_format="avro",
                schema_registry=self.registry)
            t0 = time.perf_counter()
            res = self.applier.apply_batch(parsed, batch_id=i)
            batch_s = time.perf_counter() - t0
        self.expect(f"batch {i} applied every event",
                    res.n_events == hi - lo and not res.n_quarantined,
                    f"n_events={res.n_events} quarantined="
                    f"{res.n_quarantined}")
        return {"batch_s": batch_s, "events": res.n_events, **out}

    def _fresh(self, name: str) -> None:
        self.table_path = os.path.join(self.work, name, "target")
        self.applier = CdcApplier(self.spark, self.cfg(), self.table_path)

    def setup(self) -> None:
        # the backlog's head into a scratch table: the set-ups are the
        # warm-up of the decode + apply path, as the timed phase starts
        # a fresh table
        self._fresh(f"setup{self.n_setups}")
        self.n_setups += 1
        self._apply(0, 0, self.SETUP_BATCH)

    def finish_setup(self) -> None:
        # the timed phase drains the backlog into a fresh table (created
        # by its first apply)
        self._fresh("backfill")

    def step(self, i: int) -> dict:
        return self._apply(i, i * self.BATCH, (i + 1) * self.BATCH)

    def comparisons(self) -> dict:
        want = reference.expected_state(self.spark, self.events,
                                        self.n_events, soft_delete=True)
        return {"target equals last-writer-wins reference":
                (want, self.target().read())}


WORKLOADS = {w.name: w for w in (BulkBackfill, SteadyCow, MorReadWrite,
                                 ViewFollow)}
