"""Incremental CDC apply — the streaming form of ``dlt.apply_changes``.

The batch operator (operators/cdc.py) reduces a whole changelog at
once; this module maintains a keyed state table across micro-batches
via ``foreachBatch`` (reference: 03_Ingestion.py:318-326 —
``dlt.create_target_table`` + ``dlt.apply_changes``; OSS Spark has no
managed upsert sink, so we build one on parquet).

State mechanics (hash-bucketed version chains, touched-buckets-only
rewrites) live in ``streaming/state.py``; this module plugs in the CDC
merge: the target stores the LATEST CHANGELOG ROW per key — including
delete markers and the sequencing columns. Keeping delete rows in
state (rather than physically removing keys) makes the merge
associative::

    latest(state ∪ batch) == latest(full changelog so far)

so out-of-order rows *across* micro-batches resolve correctly: a stale
update arriving after a newer one (or after a delete) loses the max_by
and leaves state unchanged. Reads filter deletes and drop bookkeeping
columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.cdc import latest_by_key
from db_cdc_poc_spark.streaming.state import (
    BucketedStateTable,
    unify_schemas,
    wider_type,
)


class CdcTarget:
    """A keyed upsert target backed by hash-bucketed versioned parquet
    state (S6/S8: the engine's stand-in for ``dlt.create_target_table``)."""

    def __init__(
        self,
        path: str,
        keys: str | Sequence[str],
        sequence_by: str | Sequence[str],
        apply_as_deletes: str | None = None,
        except_columns: Sequence[str] = (),
        tie_breakers: str | Sequence[str] = (),
        keep_versions: int = 2,
        num_buckets: int = 16,
    ) -> None:
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        self.sequence_by = sequence_by
        self.apply_as_deletes = apply_as_deletes
        self.except_columns = list(except_columns)
        self.tie_breakers = tie_breakers
        self.state = BucketedStateTable(
            path, self.keys, num_buckets=num_buckets, keep_versions=keep_versions
        )

    @property
    def path(self):
        return self.state.path

    @property
    def num_buckets(self) -> int:
        return self.state.num_buckets

    def bucket_expr(self) -> Column:
        return self.state.bucket_expr()

    # -- merge ------------------------------------------------------------

    def upsert_batch(self, batch: DataFrame, epoch_id: int | None = None) -> None:
        """Merge one micro-batch: for every bucket the batch touches,
        new bucket state = latest(bucket state ∪ bucket's batch slice).
        Untouched buckets are neither read nor written. Called from
        foreachBatch.
        """

        def merge(state: DataFrame | None, b: DataFrame) -> DataFrame:
            # Schema evolution, two safe forms only:
            # - additive (allowMissingColumns): a batch carrying a NEW
            #   column widens the state, old rows take NULL; a batch
            #   missing a state column keeps it, its rows take NULL.
            # - in-family numeric widening (int->long, float->double):
            #   both sides are cast to the wider type before the union,
            #   so the touched bucket is rewritten widened; untouched
            #   buckets up-cast on read (state._read_chains).
            # Drops/renames/cross-family changes stay hard errors —
            # silent coercion corrupts CDC state.
            if state is not None:
                s_types = {f.name: f.dataType for f in state.schema.fields}
                for f in b.schema.fields:
                    st = s_types.get(f.name)
                    if st is None or st == f.dataType:
                        continue
                    w = wider_type(st, f.dataType)
                    if w is None:
                        raise TypeError(
                            f"CDC batch column {f.name!r} has type "
                            f"{f.dataType.simpleString()} but state has "
                            f"{st.simpleString()}; only in-family numeric "
                            "widening is supported"
                        )
                    if st != w:
                        state = state.withColumn(f.name, F.col(f.name).cast(w))
                    if f.dataType != w:
                        b = b.withColumn(f.name, F.col(f.name).cast(w))
            merged = (
                state.unionByName(b, allowMissingColumns=True)
                if state is not None
                else b
            )
            return latest_by_key(merged, self.keys, self.sequence_by, self.tie_breakers)

        self.state.merge_batch(batch, merge)

    # -- read -------------------------------------------------------------

    def _applied(self, state: DataFrame) -> DataFrame:
        """State rows -> the applied view: deletes filtered,
        bookkeeping columns dropped."""
        if self.apply_as_deletes is not None:
            state = state.filter(~F.expr(self.apply_as_deletes))
        drop = [c for c in self.except_columns if c in state.columns]
        return state.drop(*drop) if drop else state

    def current(self, spark: SparkSession) -> DataFrame:
        """The applied table: latest rows, deletes filtered, bookkeeping
        columns dropped — what ``dlt.apply_changes`` exposes."""
        state = self.state.state_for(spark)
        if state is None:
            raise ValueError(f"CDC target {self.path} has no state yet")
        return self._applied(state)

    def current_at(self, spark: SparkSession, commit: int) -> DataFrame:
        """Time travel: the applied table as of an earlier micro-batch
        commit (``state.commits()`` lists them; retention bounded by
        ``keep_versions`` — see ``BucketedStateTable.state_at``)."""
        state = self.state.state_at(spark, commit)
        if state is None:
            raise ValueError(f"CDC target {self.path} empty at commit {commit}")
        return self._applied(state)

    def changes_since(
        self,
        spark: SparkSession,
        commit: int | None,
        keys_filter: DataFrame | None = None,
        to_commit: int | None = None,
    ) -> DataFrame:
        """Applied-state delta between a committed watermark and
        ``to_commit`` (``None``: the latest commit, resolved once, so
        the changed-bucket list and the data come from one record):
        one ``(keys..., op, before, after)`` row per key whose applied
        row changed — ``op`` 'c' (new key), 'u' (payload changed), 'd'
        (delete applied); ``before``/``after`` are structs of the
        applied view's non-key columns (NULL on the missing side).

        This is the changelog a downstream incremental aggregate must
        fold to stay EXACTLY-ONCE across re-fired triggers (the crash
        soak's finding, ``scripts/crash_soak.py`` / SCALING.md): after
        a crash between the state commit and the fold, a changelog
        derived from the trigger's own batch permanently misses rows
        the crashed attempt committed — upstream operators (e.g. the
        streaming dedup index) legitimately re-decide on replay. The
        state delta against the last FOLDED commit covers the
        trigger's whole effect no matter which attempt wrote it, and a
        replayed identical upsert yields an empty delta (fold is a
        no-op) — provided the folder advances its watermark to the
        ``to_commit`` it diffed up to. Retention: ``keep_versions``
        must cover the fold's watermark lag plus crash slack.

        The diff is pruned by bucket version: only buckets whose
        recorded tip moved between the two commits are read and
        joined, and with none moved the empty result is planned without
        a scan or a join. The payload structs still carry every column
        of the whole table at either point, so the output schema does
        not depend on which buckets changed. Additive evolution (a
        column added or int->long widened between the two commits)
        reads NULL/widened on the side that predates it.

        ``commit=None`` means "everything" (every applied row as 'c').
        ``keys_filter`` (a DataFrame of key columns) prunes the diff to
        those keys — pass the trigger's batch keys to keep the work
        batch-bounded instead of state-bounded.
        """
        from pyspark.sql import types as T

        def _keyed(df: DataFrame) -> DataFrame:
            if keys_filter is None:
                return df
            return df.join(
                F.broadcast(keys_filter.select(*self.keys).distinct()), self.keys
            )

        if to_commit is None:
            commits = self.state.commits()
            if not commits:
                raise ValueError(f"CDC target {self.path} has no state yet")
            to_commit = commits[-1]
        if commit is None:
            new = _keyed(self.current_at(spark, to_commit))
            payload_fields = [
                f for f in new.schema.fields if f.name not in self.keys
            ]
            return new.select(
                *self.keys,
                F.lit("c").alias("op"),
                F.lit(None)
                .cast(T.StructType(payload_fields))
                .alias("before"),
                F.struct(*[f.name for f in payload_fields]).alias("after"),
            )
        st = self.state
        changed = st.changed_buckets(commit, to_commit)
        new = st.state_at(spark, to_commit)
        if new is None:
            raise ValueError(f"CDC target {self.path} empty at commit {to_commit}")
        if not changed:
            # same tips at both points: zero rows over one pinned read —
            # no scan, no join, no job
            new = self._applied(new.limit(0))
            val_fields = [f for f in new.schema.fields if f.name not in self.keys]
            none = F.lit(None).cast(T.StructType(val_fields))
            return new.select(
                *self.keys,
                F.lit(None).cast("string").alias("op"),
                none.alias("before"),
                none.alias("after"),
            )
        old = st.state_at(spark, commit)
        if old is None:
            raise ValueError(f"CDC target {self.path} empty at commit {commit}")
        # both sides under the union of the whole table's schemas at the
        # two points, read only in the changed buckets (an unchanged
        # bucket cannot hold a changed key)
        schema = unify_schemas([old.schema, new.schema])
        old = st.state_at(spark, commit, changed, schema)
        new = st.state_at(spark, to_commit, changed, schema)
        # a side with no chain in these buckets has no rows there
        old = old if old is not None else new.limit(0)
        new = new if new is not None else old.limit(0)
        old, new = self._applied(old), self._applied(new)
        val_fields = [f for f in new.schema.fields if f.name not in self.keys]
        payload = F.struct(*[f.name for f in val_fields])
        n = _keyed(new).select(*self.keys, payload.alias("after"))
        o = _keyed(old).select(*self.keys, payload.alias("before"))
        joined = n.join(o, self.keys, "full_outer")
        return (
            joined.withColumn(
                "op",
                F.when(F.col("before").isNull(), F.lit("c"))
                .when(F.col("after").isNull(), F.lit("d"))
                .otherwise(F.lit("u")),
            )
            # unchanged keys produce no row: a replayed identical
            # upsert must yield an EMPTY delta
            .filter(
                F.col("before").isNull()
                | F.col("after").isNull()
                | (F.col("before") != F.col("after"))
            )
            .select(*self.keys, "op", "before", "after")
        )


def stream_apply_changes(
    spark: SparkSession,
    source_path: str,
    keys: str | Sequence[str],
    sequence_by: str | Sequence[str],
    apply_as_deletes: str | None = None,
    except_columns: Sequence[str] = (),
    tie_breakers: str | Sequence[str] = (),
    state_path: str | None = None,
    max_files_per_trigger: int | None = None,
    num_buckets: int = 16,
    checkpoint_path: str | None = None,
) -> DataFrame:
    """File stream -> foreachBatch incremental CDC apply -> final table.

    Drains ``source_path`` with an ``availableNow`` trigger, merging
    each micro-batch into a ``CdcTarget``, and returns the final
    applied table. Equals batch ``apply_changes`` over the same data
    regardless of how rows split across micro-batches (asserted in
    tests with ``max_files_per_trigger=1`` over multi-file input).

    Pass the SAME ``state_path`` + ``checkpoint_path`` to resume after
    a stop/crash: the checkpoint's file-source log skips every file an
    earlier run committed, so only new files merge into the state —
    no double application (asserted in the restart test). This is the
    fault-tolerance contract (T6) the reference delegates to DLT.
    """
    from db_cdc_poc_spark.streaming.ephemeral import ephemeral_checkpoint_dir

    target = CdcTarget(
        state_path or ephemeral_checkpoint_dir("cdc_state_"),
        keys=keys,
        sequence_by=sequence_by,
        apply_as_deletes=apply_as_deletes,
        except_columns=except_columns,
        tie_breakers=tie_breakers,
        num_buckets=num_buckets,
    )
    static = spark.read.parquet(source_path)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(source_path)
    checkpoint = checkpoint_path or ephemeral_checkpoint_dir("ckpt_cdc_")
    if checkpoint_path is None:
        # throwaway checkpoint: skip the 4.1 checksum sidecars (see
        # streaming/ephemeral.py); a caller-provided checkpoint is the
        # RESUMABLE contract and keeps the integrity default
        from db_cdc_poc_spark.streaming.ephemeral import ephemeral_stream_confs

        ctx = ephemeral_stream_confs(spark)
    else:
        from contextlib import nullcontext

        ctx = nullcontext()
    try:
        with ctx:
            q = (
                stream.writeStream.foreachBatch(
                    lambda batch, epoch: target.upsert_batch(batch, epoch)
                )
                .trigger(availableNow=True)
                .option("checkpointLocation", checkpoint)
                .start()
            )
            q.awaitTermination()
    finally:
        if checkpoint_path is None:
            # throwaway checkpoint only; a caller-provided path is the
            # resumable contract and must survive
            from db_cdc_poc_spark.streaming.ephemeral import (
                discard_ephemeral_dir,
            )

            discard_ephemeral_dir(checkpoint)
    return target.current(spark)


def state_diff(
    target: "CdcTarget",
    spark: SparkSession,
    from_commit: int,
    to_commit: int,
) -> DataFrame:
    """CDC audit diff: what changed in the applied table between two
    commits — the "show me what micro-batches 3..7 did" question a
    keyed sink must answer (Delta's table-changes / CDF analogue on
    the bucketed state store).

    A projection of ``target.changes_since(spark, from_commit,
    to_commit=to_commit)``: ``added`` (only in ``to``), ``removed``
    (only in ``from`` — a delete applied in between), ``changed`` (both
    sides present, any non-key column differs, columns added in between
    included). Unchanged keys are dropped, and either direction works.

    Output: key columns + ``change_kind``.
    """
    delta = target.changes_since(spark, from_commit, to_commit=to_commit)
    kind = (
        F.when(F.col("op") == "c", F.lit("added"))
        .when(F.col("op") == "d", F.lit("removed"))
        .when(F.col("op") == "u", F.lit("changed"))
    )
    return delta.select(*target.keys, kind.alias("change_kind"))
