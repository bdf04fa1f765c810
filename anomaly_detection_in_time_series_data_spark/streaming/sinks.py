"""foreachBatch sinks: one fold skeleton, seven folds.

Every sink here keeps an on-disk parquet store current from a stream, one
micro-batch at a time, through ``fold_sink(stream, path, checkpoint=...,
fold=..., fence=...)``.  A sink supplies only its
``fold(batch_df, state, batch_id) -> DataFrame``: the new store contents
given the delivery and the current store (``None`` before the first
write).  The skeleton owns every other step of a trigger:

1. ``_recover_store``: finish a swap that crashed half-way;
2. read the sidecar ``<store>/_sink.json`` (plain file IO, no Spark job);
3. apply the fence policy from the sidecar alone;
4. read the store with the sidecar's schema (no schema-inference job);
5. fold, write the result to ``<store>.stage-<batch>``, add the new
   sidecar to that directory, and ``_swap_in`` it: fence, schema and data
   change in one rename.

An empty delivery is not special-cased: every fold treats it as its
identity, so no trigger pays an ``isEmpty()`` job.

Sidecar format (JSON; the leading ``_`` keeps Spark's file index from
reading it as data)::

    {"batch_id": <last applied batch id>,
     "ckpt": <checkpoint token, or null when the fence is "none">,
     "schema": <the store's StructType as JSON>}

Fence policies.  foreachBatch delivers at least once: a crash between the
swap and the offset commit re-delivers the last batch.  A sink is exactly
once when re-applying a batch is harmless, or when it recognises the
replay by batch id (Structured Streaming, SIGMOD 2018: idempotence per
epoch id):

- ``"none"``: the fold is idempotent (upsert keep-latest, the scd2 merge
  whose unchanged re-deliveries are no-ops, the hll per-register max), so
  replays, duplicates and even a fresh checkpoint over an old store
  converge with no fence at all.
- ``"tokened"``: the fold is not idempotent (digest, cms and mg add or
  trim).  The sidecar records which checkpoint wrote the store (the token
  minted by ``_ckpt_token``).  A batch id at or below the applied one from
  the SAME checkpoint is the crash-window replay and is skipped; from a
  different checkpoint, or below the applied id, it is a fresh checkpoint
  over a reused store and raises, since a sketch carries no novelty
  signal and a silent skip would drop data.
- a callable ``novel(batch_df, state) -> bool`` (streaks): a fenced batch
  is skipped unless the callable finds data the store has never seen, in
  which case it raises.  The check runs only on fenced batches.

A fenced sink that finds a store without a sidecar raises ("cannot
classify replay"): it never folds such a batch as unfenced.

At scale the swap-directory step becomes a transactional table commit
(Iceberg/Delta ``MERGE INTO``); the micro-batch fold shape is identical,
and this module keeps the dependency-free parquet form.
"""

from __future__ import annotations

import json
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

SIDECAR = "_sink.json"


def _recover_store(out: Path) -> None:
    """If a previous ``_swap_in`` crashed between renaming the live table
    aside and renaming staging in, the live dir is missing but a
    ``.old-<batch>`` sibling still holds the last committed state —
    restore the newest one.  Called before every read of the store so a
    checkpoint replay resumes from the preserved history instead of
    silently rebuilding from an empty table."""
    if out.exists():
        return
    olds = sorted(
        out.parent.glob(out.name + ".old-*"),
        key=lambda q: int(q.name.rsplit("-", 1)[1]),
    )
    if olds:
        olds[-1].rename(out)
        for stale in olds[:-1]:
            shutil.rmtree(stale, ignore_errors=True)


def _swap_in(staging: Path, out: Path, batch_id: int) -> None:
    """Crash-safe table swap: rename the live dir ASIDE (never delete it
    before its replacement is in place), rename staging in, then drop the
    aside copy.  At no instant do zero on-disk copies of the table exist,
    so a crash at any point is recoverable: either ``out`` survives, or
    ``_recover_store`` restores it from the ``.old-*`` sibling on the
    next batch/replay."""
    old = Path(f"{out}.old-{batch_id}")
    shutil.rmtree(old, ignore_errors=True)  # stale copy from a replayed batch
    if out.exists():
        out.rename(old)
    staging.rename(out)
    shutil.rmtree(old, ignore_errors=True)


def _ckpt_token(checkpoint: str) -> str:
    """Identity of a checkpoint location: a random id minted ONCE into
    ``<checkpoint>/_sink_identity``.  The file travels with the
    checkpoint, so a (store, checkpoint) pair relocated together (backup
    and restore, another mount point) still classifies its crash-window
    replay as same-checkpoint.  Residual hazard: deleting and re-creating
    the checkpoint at the SAME path mints a new identity and raises on a
    reused store — pair a new checkpoint with a new store path."""
    tok_file = Path(checkpoint) / "_sink_identity"
    if tok_file.exists():
        return tok_file.read_text().strip()
    tok_file.parent.mkdir(parents=True, exist_ok=True)
    token = uuid.uuid4().hex
    tmp = tok_file.with_name(tok_file.name + ".tmp")
    tmp.write_text(token)
    tmp.rename(tok_file)  # single rename: no torn reads
    return token


def _sidecar(path: str) -> dict | None:
    side = Path(path) / SIDECAR
    return json.loads(side.read_text()) if side.exists() else None


def read_store(spark, path: str) -> DataFrame:
    """The store at ``path``, read with the schema its sidecar records, so
    no schema-inference job runs (a store without a sidecar is inferred)."""
    meta = _sidecar(path)
    reader = spark.read
    if meta is not None:
        reader = reader.schema(T.StructType.fromJson(meta["schema"]))
    return reader.parquet(path)


def fold_sink(stream: DataFrame, path: str, *, checkpoint: str, fold, fence="none"):
    """Start an ``availableNow`` foreachBatch query that folds every
    micro-batch into the parquet store at ``path`` (see the module
    docstring for the trigger steps, the sidecar and the ``fence``
    policies).  Returns the StreamingQuery."""
    out = Path(path)
    token = None if fence == "none" else _ckpt_token(checkpoint)

    def step(batch_df: DataFrame, batch_id: int) -> None:
        _recover_store(out)
        meta = _sidecar(path)
        state = None
        if out.exists():
            if meta is None and fence != "none":
                raise ValueError(
                    f"{path}: store has no {SIDECAR} fence record, so batch "
                    f"{batch_id} cannot classify replay; rebuild the store "
                    "with a fresh path and checkpoint"
                )
            state = read_store(batch_df.sparkSession, path)
            if fence != "none" and (applied := meta["batch_id"]) >= batch_id:
                if fence == "tokened":
                    if applied > batch_id or meta["ckpt"] != token:
                        raise ValueError(
                            f"{path}: store already holds batch {applied} "
                            f"(written by checkpoint {meta['ckpt']}) but "
                            f"checkpoint {token} delivered batch {batch_id} "
                            "— fresh checkpoint over an existing store; pair "
                            "a new checkpoint with a new store path"
                        )
                elif fence(batch_df, state):
                    raise ValueError(
                        f"{path}: batch {batch_id} is fenced (store already "
                        f"applied batch {applied}) but carries unseen data — "
                        "checkpoint/store mismatch (fresh checkpoint over an "
                        "existing store?); use a fresh store path or "
                        "recompute from full history"
                    )
                return  # replayed delivery: already folded (exactly once)
        merged = fold(batch_df, state, batch_id)
        staging = Path(f"{path}.stage-{batch_id}")
        # write-direct: the staging write is the fold's only
        # materialization.  A fold may fail mid-write (the streaks order
        # guard); drop the partial stage so only the live store remains.
        try:
            merged.write.mode("overwrite").parquet(str(staging))
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        (staging / SIDECAR).write_text(
            json.dumps(
                {
                    "batch_id": batch_id,
                    "ckpt": token,
                    "schema": merged.schema.jsonValue(),
                }
            )
        )
        _swap_in(staging, out, batch_id)

    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def merge_latest(
    current: DataFrame | None,
    batch: DataFrame,
    key_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Keep the newest row per key across current state + new batch.

    Ties on ``order_col`` break toward the incoming batch (a `_src` rank
    column, dropped on output) so replayed batches overwrite cleanly.
    """
    tagged = batch.withColumn("_src", F.lit(1))
    if current is not None:
        tagged = current.withColumn("_src", F.lit(0)).unionByName(tagged)
    w = Window.partitionBy(*key_cols).orderBy(F.desc(order_col), F.desc("_src"))
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def upsert_foreach_batch(
    stream: DataFrame,
    path: str,
    *,
    key_cols: list[str],
    order_col: str,
    checkpoint: str,
):
    """Upsert each micro-batch into ``path``: keep the newest row per key
    (``merge_latest``), the streaming CDC/compaction pattern the built-in
    file sink can't express.  Keep-latest is idempotent, so the fence is
    ``"none"``."""
    return fold_sink(
        stream,
        path,
        checkpoint=checkpoint,
        fold=lambda b, state, _: merge_latest(state, b, key_cols, order_col),
    )


def scd2_foreach_batch(
    stream: DataFrame,
    path: str,
    *,
    keys: list[str],
    tracked: list[str],
    ts_col: str,
    checkpoint: str,
    seq_col: str | None = None,
):
    """Fold each micro-batch into a TYPE-2 slowly-changing dimension at
    ``path`` via ``cdc.scd2_merge`` — the batch CDC operator driven by the
    streaming runtime.  Each micro-batch is a CDC delivery: unseen keys
    open a version, changes close the open row at the update timestamp and
    open a new one, unchanged re-deliveries are no-ops — which makes
    replays converge with the ``"none"`` fence.

    ``seq_col``: optional integer column giving the CDC sequence order of
    sub-batches; if one trigger coalesces several deliveries (file-source
    backlog), they are folded in ascending ``seq_col`` order so the history
    is independent of trigger boundaries.  The distinct sub-batch list is a
    driver-side collect bounded by the deliveries per trigger."""
    from ..operators.cdc import scd2_merge

    def fold(batch_df: DataFrame, state: DataFrame | None, _) -> DataFrame:
        base = batch_df.drop(seq_col) if seq_col is not None else batch_df
        if state is None:
            # Built as a StructType, not string DDL: column names may be
            # SQL reserved words.
            fields = [f for f in base.schema.fields if f.name != ts_col]
            state = batch_df.sparkSession.createDataFrame(
                [],
                schema=T.StructType(
                    fields
                    + [
                        T.StructField("valid_from", T.TimestampType()),
                        T.StructField("valid_to", T.TimestampType()),
                    ]
                ),
            )
        if seq_col is None:
            subs = [base]
        else:
            seqs = sorted(
                r[0] for r in batch_df.select(seq_col).distinct().collect()
            )
            subs = [
                batch_df.filter(F.col(seq_col) == s).drop(seq_col)
                for s in seqs
            ]
        for i, upd in enumerate(subs):
            state = scd2_merge(
                state, upd, keys=keys, tracked=tracked, ts_col=ts_col
            )
            # materialize BETWEEN folds so a multi-delivery trigger stays
            # one merge deep; the last fold is written directly.
            if i < len(subs) - 1:
                state = state.localCheckpoint(eager=True)
        return state

    return fold_sink(stream, path, checkpoint=checkpoint, fold=fold)


_STREAKS_STATE = T.StructType(
    [
        T.StructField(c, T.LongType())
        for c in (
            "user_id", "n_active_days", "longest_streak", "n_streaks",
            "cur_streak", "last_day",
        )
    ]
)


def streaks_foreach_batch(
    stream: DataFrame,
    path: str,
    *,
    checkpoint: str,
):
    """INCREMENTALLY maintain per-user consecutive-day streak statistics at
    ``path`` — the gaps-and-islands computation (`user_longest_streaks`) as
    an incrementally maintained view: each micro-batch of (user_id,
    day_idx) activity folds into per-user state (active days, longest
    streak, streak count, current open streak, last seen day) without
    rescanning history.

    The fold is pure DataFrame algebra: islands WITHIN the batch (one
    window), then a full-outer merge with state where the batch's first
    island extends the open streak iff it starts at last_day + 1.  Counts
    add, so the fold is not idempotent: a batch at or below the applied id
    is skipped, unless it carries (user, day) pairs beyond the user's
    stored last_day — then a fresh checkpoint is pointed at an existing
    store and the sink raises rather than drop deliveries.

    Contract: deliveries arrive in ascending day order per user.  It is
    enforced in-fold: a batch whose first day for some user is <= that
    user's stored last_day fails the staging write (``raise_error`` in the
    merge projection, no extra job) before the swap, so the store is
    untouched.  Scale: state is one row per user; each fold shuffles only
    the batch's user set."""

    def novel(batch_df: DataFrame, state: DataFrame) -> bool:
        return bool(
            batch_df.select("user_id", "day_idx")
            .distinct()
            .join(state.select("user_id", "last_day"), "user_id", "left")
            .filter(
                F.col("last_day").isNull()
                | (F.col("day_idx") > F.col("last_day"))
            )
            .limit(1)
            .count()
        )

    def fold(batch_df: DataFrame, state: DataFrame | None, batch_id: int):
        w = Window.partitionBy("user_id").orderBy("day_idx")
        isl = (
            batch_df.select("user_id", "day_idx")
            .distinct()
            .select(
                "user_id",
                "day_idx",
                (F.col("day_idx") - F.row_number().over(w)).alias("grp"),
            )
        )
        g = isl.groupBy("user_id", "grp").agg(
            F.min("day_idx").alias("start"),
            F.max("day_idx").alias("end"),
            F.count("*").cast("bigint").alias("len"),
        )
        wr = Window.partitionBy("user_id").orderBy("start")
        wn = Window.partitionBy("user_id")
        r = g.select(
            "user_id", "start", "end", "len",
            F.row_number().over(wr).alias("rk"),
            F.count("*").over(wn).alias("ni"),
        )
        agg = r.groupBy("user_id").agg(
            F.max("ni").cast("bigint").alias("n_islands"),
            F.max(F.when(F.col("rk") == 1, F.col("start"))).alias("first_start"),
            F.max(F.when(F.col("rk") == 1, F.col("len"))).alias("first_len"),
            F.max(F.when(F.col("rk") == F.col("ni"), F.col("len"))).alias(
                "last_len"
            ),
            F.max(F.when(F.col("rk") == F.col("ni"), F.col("end"))).alias(
                "last_end"
            ),
            F.max(F.when(F.col("rk") > 1, F.col("len"))).alias("max_rest_len"),
            F.sum("len").cast("bigint").alias("batch_days"),
        )
        if state is None:
            state = batch_df.sparkSession.createDataFrame([], _STREAKS_STATE)
        st = state.alias("st")
        ba = agg.alias("ba")
        z = F.lit(0).cast("bigint")
        ooo = F.col("st.last_day").isNotNull() & (
            F.col("ba.first_start") <= F.col("st.last_day")
        )
        ooo_guard = F.when(
            ooo,
            F.raise_error(
                F.lit(
                    f"streaks_foreach_batch: batch {batch_id} violates "
                    "the ascending-day contract (some user's batch "
                    "activity starts at or before their stored last_day). "
                    "The incremental fold cannot apply out-of-order "
                    "history — recompute the view from full history "
                    "instead."
                )
            ).cast("bigint"),
        ).otherwise(z)
        ext = F.col("st.last_day").isNotNull() & (
            F.col("ba.first_start") == F.col("st.last_day") + 1
        )
        adj_first = F.col("ba.first_len") + F.when(
            ext, F.col("st.cur_streak")
        ).otherwise(z)
        has_batch = F.col("ba.user_id").isNotNull()
        return st.join(
            ba, F.col("st.user_id") == F.col("ba.user_id"), "full_outer"
        ).select(
            F.coalesce(F.col("st.user_id"), F.col("ba.user_id")).alias(
                "user_id"
            ),
            F.when(
                has_batch,
                F.coalesce(F.col("st.n_active_days"), z)
                + F.col("ba.batch_days")
                + ooo_guard,
            )
            .otherwise(F.col("st.n_active_days"))
            .alias("n_active_days"),
            F.when(
                has_batch,
                F.greatest(
                    F.coalesce(F.col("st.longest_streak"), z),
                    adj_first,
                    F.coalesce(F.col("ba.max_rest_len"), z),
                ),
            )
            .otherwise(F.col("st.longest_streak"))
            .alias("longest_streak"),
            F.when(
                has_batch,
                F.coalesce(F.col("st.n_streaks"), z)
                + F.col("ba.n_islands")
                - F.when(ext, F.lit(1).cast("bigint")).otherwise(z),
            )
            .otherwise(F.col("st.n_streaks"))
            .alias("n_streaks"),
            F.when(
                has_batch,
                F.when(F.col("ba.n_islands") == 1, adj_first).otherwise(
                    F.col("ba.last_len")
                ),
            )
            .otherwise(F.col("st.cur_streak"))
            .alias("cur_streak"),
            F.when(has_batch, F.col("ba.last_end"))
            .otherwise(F.col("st.last_day"))
            .alias("last_day"),
        )

    return fold_sink(
        stream, path, checkpoint=checkpoint, fold=fold, fence=novel
    )


def _union_state(parts: DataFrame, state: DataFrame | None) -> DataFrame:
    """``parts`` ∪ the store's rows of the same columns, so a fold needs
    one aggregate (one exchange) over delivery and state together."""
    if state is None:
        return parts
    return parts.unionByName(state.select(*parts.columns))


def _counts(batch_df: DataFrame, *keys: str) -> DataFrame:
    """``keys`` plus a bigint ``n``: the delivery's own ``n`` column when
    it is pre-combined, else 1 per row."""
    n = F.col("n") if "n" in batch_df.columns else F.lit(1)
    return batch_df.select(*keys, n.cast("bigint").alias("n"))


def digest_foreach_batch(
    stream: DataFrame,
    path: str,
    *,
    checkpoint: str,
):
    """INCREMENTALLY maintain an order-insensitive CONTENT DIGEST at
    ``path`` — the streaming twin of `table_fingerprint_checksum`.  The
    fold is a commutative monoid merge (count, mod-sum, xor, min, max), so
    incremental maintenance is exact by construction, but a replay would
    double-count: the fence is ``"tokened"``.

    Expects a single bigint column ``h`` (the per-row content hash).
    State is ONE row (n_rows, checksum_sum, checksum_xor, h_min, h_max);
    the sum folds through decimal(38,0) before the mod so near-2^63
    values cannot overflow.  Each trigger is one global aggregate over
    the delivery's rows ∪ the 1-row store; the aggregates skip nulls, so
    an empty delivery leaves the store unchanged."""
    M = F.lit(9223372036854775807).cast("decimal(38,0)")

    def fold(batch_df: DataFrame, state: DataFrame | None, _) -> DataFrame:
        h = F.col("h").cast("bigint")
        parts = batch_df.select(
            F.lit(1).cast("bigint").alias("n_rows"),
            h.alias("checksum_sum"),
            h.alias("checksum_xor"),
            h.alias("h_min"),
            h.alias("h_max"),
        )
        return _union_state(parts, state).agg(
            F.coalesce(F.sum("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
            (F.sum(F.col("checksum_sum").cast("decimal(38,0)")) % M)
            .cast("bigint")
            .alias("checksum_sum"),
            F.expr("bit_xor(checksum_xor)").cast("bigint").alias("checksum_xor"),
            F.min("h_min").cast("bigint").alias("h_min"),
            F.max("h_max").cast("bigint").alias("h_max"),
        )

    return fold_sink(
        stream, path, checkpoint=checkpoint, fold=fold, fence="tokened"
    )


def hll_foreach_batch(
    stream: DataFrame,
    path: str,
    *,
    checkpoint: str,
):
    """INCREMENTALLY maintain an HLL register table at ``path``.  The
    register merge is MAX per bucket, which is IDEMPOTENT — max(a, a) = a
    — so replays, duplicate deliveries and even a fresh checkpoint over an
    existing store are algebraic no-ops: the fence is ``"none"``.

    Expects rows ``(reg bigint, rho bigint)`` — the register index and the
    leading-zero rank.  State is at most one row per register: kilobytes
    regardless of stream volume.  Each trigger is one aggregate over the
    delivery ∪ the store (partial max map-side, one exchange)."""

    def fold(batch_df: DataFrame, state: DataFrame | None, _) -> DataFrame:
        parts = batch_df.select("reg", F.col("rho").cast("bigint"))
        return (
            _union_state(parts, state)
            .groupBy("reg")
            .agg(F.max("rho").cast("bigint").alias("rho"))
        )

    return fold_sink(stream, path, checkpoint=checkpoint, fold=fold)


def cms_foreach_batch(
    stream: DataFrame,
    path: str,
    *,
    checkpoint: str,
):
    """INCREMENTALLY maintain a count-min-sketch table at ``path``: the
    delivery's (hash-row, bucket) counts merge into the store by (i, b)
    ADDITION.  Addition is a commutative monoid but NOT idempotent, so the
    fence is ``"tokened"``.

    Expects rows ``(i bigint, b bigint)`` (one per contributing input row)
    or pre-combined ``(i, b, n bigint)``.  State is at most depth*width
    rows — kilobytes regardless of stream volume.  Each trigger is one
    aggregate over the delivery ∪ the store (partial sums map-side, one
    exchange)."""

    def fold(batch_df: DataFrame, state: DataFrame | None, _) -> DataFrame:
        return (
            _union_state(_counts(batch_df, "i", "b"), state)
            .groupBy("i", "b")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )

    return fold_sink(
        stream, path, checkpoint=checkpoint, fold=fold, fence="tokened"
    )


def mg_foreach_batch(
    stream: DataFrame,
    path: str,
    *,
    capacity: int,
    checkpoint: str,
):
    """INCREMENTALLY maintain a Misra-Gries heavy-hitters summary at
    ``path``: the store never holds more than ``capacity`` (key, count)
    rows.  The merge is the mergeable-summaries rule (Agarwal et al.,
    PODS'12): sum counts per key across state ∪ batch, find d = the
    (capacity+1)-th largest merged count (0 when at most ``capacity`` keys
    survive), subtract d from every count and keep the positive ones.
    Every surviving count undercounts its true frequency by at most the
    total decremented mass, and any key above n/(capacity+1) is present.

    The fold is deterministic given the delivery sequence but
    order-dependent across deliveries, and trimming is not idempotent: the
    fence is ``"tokened"``.  Expects rows ``(k bigint)`` or pre-combined
    ``(k, n bigint)``.  The trim threshold is read from a
    <= capacity+1-row ordered slice, never a data-sized sort."""

    def fold(batch_df: DataFrame, state: DataFrame | None, _) -> DataFrame:
        b = (
            _union_state(_counts(batch_df, "k"), state)
            .groupBy("k")
            .agg(F.sum("n").cast("bigint").alias("n"))
            .localCheckpoint(eager=True)
        )
        top = b.orderBy(F.desc("n"), F.asc("k")).limit(capacity + 1).collect()
        d = top[-1]["n"] if len(top) > capacity else 0
        return b.select("k", (F.col("n") - F.lit(d)).alias("n")).filter(
            F.col("n") > 0
        )

    return fold_sink(
        stream, path, checkpoint=checkpoint, fold=fold, fence="tokened"
    )
