"""Incrementally-maintained inverted text index: a searchable
``(term, doc_id)`` posting table over an upstream document table,
kept current per upstream commit — the third maintained-view shape
after the row mirror (:class:`.cascade.CascadeRunner`) and the
aggregate view (:class:`.aggview.AggViewRunner`).

Rebuilding a search index per batch rescans the corpus; maintaining
it needs BOTH images of every change: a document update must retract
the OLD text's postings and insert the new ones, and a delete must
retract by the pre-image (the post-image of a hard delete doesn't
exist). That is exactly what the feed's Delta-CDF pre-image rows
carry (:func:`..lake.changes.table_changes` ``include_preimages=
True``), so maintenance is a pure event translation:

* pre-image rows (``delete`` / ``update_preimage``) → one DELETE
  event per distinct term of the old text;
* post-image rows (``insert`` / ``update_postimage``) → one UPSERT
  event per distinct term of the new text;
* a term present in both images of one document collapses inside the
  engine's own batch semantics: the delete is stamped at offset 0 and
  the upsert at offset 1, and the collapse rule (earliest delete
  AFTER the latest upsert wins) keeps the posting alive — no special
  casing here.

The posting table is an ordinary lake table written through
:class:`..apply.CdcApplier` with pk ``(term, doc_id)``, BUCKETED BY
TERM — a term lookup bucket-prunes to one bucket however many
documents are indexed, and the per-sync cost follows the changed
documents' term counts, never the corpus. Exactly-once per upstream
version rides the same watermark as the other maintained views.
Because it is an ordinary lake table, the standard tooling applies:
``set_props({"bloom.cols": ["term"]})`` adds per-file bloom filters
so point lookups also skip non-matching files WITHIN the probed
bucket, and ``maintenance.plan`` keeps its file counts healthy.

Reference anchor: the reference stops at row delivery
(``JdbcSinkTask.put``); derived search structures are lake-native
downstream machinery built from the engine's feed + apply halves.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.lake.changes import (
    CHANGE_TYPE,
    FROM_VERSION,
    TO_VERSION,
    table_changes,
)
from kafka_jdbc_sink_connector_spark.lake.table import LakeTable
from kafka_jdbc_sink_connector_spark.streaming.cascade import CascadeResult

_FEED_META = (CHANGE_TYPE, FROM_VERSION, TO_VERSION)


def default_tokenizer(text: Column) -> Column:
    """Distinct lowercase word terms (letters+digits runs) — an array
    column; deterministic and portable to the SQL oracle."""
    return F.array_distinct(
        F.filter(
            F.split(F.lower(text), "[^a-z0-9]+"),
            lambda t: t != "",
        )
    )


def search_postings(
    spark: SparkSession,
    table: LakeTable,
    terms: list[str],
    mode: str = "any",
    id_col: str | None = None,
) -> DataFrame:
    """Term lookup over any ``(term, id)`` posting lake table —
    shared by :meth:`TextIndexRunner.lookup` and the CLI ``search``
    command so both get the same pruning from the term predicate:
    :meth:`LakeTable.read` narrows a table bucketed BY TERM to the
    buckets the probe terms hash to, then skips files via footer
    stats/blooms (a table bucketed on the id gets the file-level step
    only). ``any`` = OR, ``all`` = AND."""
    if mode not in ("any", "all"):
        raise ValueError("mode must be any|all")
    terms = [t for t in terms if t]
    if not terms:
        raise ValueError("terms must be a non-empty list")
    if id_col is None:
        others = [f for f in table.snapshot.key_fields if f != "term"]
        if len(others) != 1:
            raise ValueError(
                f"cannot infer id column from key fields "
                f"{table.snapshot.key_fields}; pass id_col"
            )
        id_col = others[0]
    hits = table.read(where=[("term", "in", terms)]).select("term", id_col)
    if mode == "any":
        return hits.select(id_col).distinct()
    return (
        hits.groupBy(id_col)
        .agg(F.count_distinct("term").alias("__nt"))
        .filter(F.col("__nt") == len(set(terms)))
        .select(id_col)
    )


class TextIndexRunner:
    """One maintained inverted index.

    Parameters
    ----------
    applier:
        Downstream :class:`CdcApplier` for the posting table; its
        config must have ``pk_fields=("term", <id_col>)`` (and a
        ``bucket_key`` of ``term`` comes from the table's creation —
        the first pk field is the default bucket key).
    tokenizer:
        ``Column -> Column`` producing an ARRAY of terms from the
        text column (default: distinct lowercase word runs). Must be
        deterministic — retraction recomputes the OLD text's terms,
        so a nondeterministic tokenizer would strand postings.
    """

    def __init__(
        self,
        spark: SparkSession,
        upstream_path: str,
        applier: CdcApplier,
        id_col: str = "doc_id",
        text_col: str = "text",
        tokenizer=None,
        source_id: str | None = None,
    ):
        if list(applier.cfg.pk_fields) != ["term", id_col]:
            raise ValueError(
                f"posting-table pk must be ('term', {id_col!r}), got "
                f"{list(applier.cfg.pk_fields)}"
            )
        from kafka_jdbc_sink_connector_spark.config import DeleteMode

        if applier.cfg.delete_mode is not DeleteMode.DELETE:
            # a soft-delete posting applier would only flip the
            # marker column on retraction, and postings()/
            # search_postings() read the table without filtering
            # markers — deleted postings would keep appearing as
            # live hits (stale search results). Hard deletes are the
            # posting table's contract.
            raise ValueError(
                "posting-table applier must use delete_mode='delete' "
                f"(got {applier.cfg.delete_mode.value!r}): retracted "
                "postings must be removed, not soft-marked"
            )
        self.spark = spark
        self.upstream_path = upstream_path
        self.applier = applier
        self.id_col = id_col
        self.text_col = text_col
        self.tokenizer = tokenizer or default_tokenizer
        self.source_id = source_id or (
            f"textindex:{os.path.abspath(upstream_path)}"
        )

    # -- state ---------------------------------------------------------

    def watermark(self) -> int:
        t = self.applier.table()
        return -1 if t is None else t.applied_batch(self.source_id)

    # -- sync ----------------------------------------------------------

    def sync(self) -> CascadeResult:
        up = LakeTable.load(self.spark, self.upstream_path)
        head = up.version
        w = self.watermark()
        if head <= w:
            return CascadeResult(mode="noop", upstream_version=head,
                                 from_version=w)
        if w < 0:
            events = self._postings(
                up.read(version=head), op=self._op_upsert(), offset=1
            )
            mode = "bootstrap"
        else:
            feed = table_changes(up, w, head, include_preimages=True)
            pre = feed.filter(
                F.col(CHANGE_TYPE).isin("delete", "update_preimage")
            ).drop(*_FEED_META)
            post = feed.filter(
                F.col(CHANGE_TYPE).isin("insert", "update_postimage")
            ).drop(*_FEED_META)
            cfg = self.applier.cfg
            # change-window-bounded computed pipeline (feed resolution
            # + tokenize/explode): lazy-checkpoint so the applier's
            # stats and merge jobs don't each re-run it. The bootstrap
            # branch stays unpersisted (corpus x terms sized).
            events = self._postings(
                pre, op=cfg.op_delete_value, offset=0
            ).unionByName(
                self._postings(post, op=self._op_upsert(), offset=1)
            ).localCheckpoint(eager=False)
            mode = "incremental"
        res = self.applier.apply_batch(
            events, batch_id=head, source_id=self.source_id
        )
        return CascadeResult(mode=mode, upstream_version=head,
                             from_version=w, batch=res)

    # -- pieces --------------------------------------------------------

    def _op_upsert(self) -> str:
        cfg = self.applier.cfg
        return (
            cfg.op_update_values[0]
            if cfg.op_update_values
            else cfg.op_insert_value
        )

    def _postings(self, rows: DataFrame, op: str, offset: int) -> DataFrame:
        cfg = self.applier.cfg
        terms = rows.select(
            F.col(self.id_col),
            F.explode(
                self.tokenizer(F.col(self.text_col))
            ).alias("term"),
        )
        keys = [F.col("term"), F.col(self.id_col)]
        # offset 0 for retractions, 1 for insertions — the collapse
        # orders within a key only, so constant offsets suffice: a
        # term in both images of one document sees delete@0 then
        # upsert@1, and "earliest delete AFTER the latest upsert"
        # keeps the posting alive
        return terms.select(
            "term",
            self.id_col,
            F.lit(op).alias(cfg.op_column),
            F.lit(offset).cast("long").alias(cfg.offset_column),
            F.pmod(F.xxhash64(*keys, F.lit(1)), F.lit(1024))
            .cast("int")
            .alias(cfg.partition_column),
        )

    # -- queries -------------------------------------------------------

    def postings(self) -> DataFrame:
        return self.applier.read_target().select("term", self.id_col)

    def _probe_buckets(self, terms: list[str]) -> list[int]:
        """Manifest-level pruning: the bucket ids the probe terms hash
        to — the buckets :func:`search_postings`' read is narrowed to
        (the index is always bucketed by term)."""
        snap = self.applier.table().snapshot
        return sorted(snap.key_buckets([("term", "in", list(terms))]))

    def lookup(self, terms: list[str], mode: str = "any") -> DataFrame:
        """Documents matching ``terms``: ``any`` (OR) or ``all``
        (AND). See :func:`search_postings` — manifest-level bucket
        pruning plus the file-level term predicate, so a lookup reads
        ~one bucket's matching files per probe term regardless of
        corpus size."""
        t = self.applier.table()
        if t is None:
            raise FileNotFoundError(self.applier.table_path)
        return search_postings(
            self.spark, t, list(terms), mode=mode, id_col=self.id_col
        )
