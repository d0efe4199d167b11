"""Structured Streaming surface: streaming transcript ingest and a custom
stateful per-conversation feature operator.

The reference is a batch library (no streaming semantics — SURVEY §1.2);
this module is the beyond-reference scale path for CONTINUOUS transcript
feeds: readStream over an append-only table directory, watermarked late-turn
handling, and ``applyInPandasWithState`` keeping one tiny state row per
conversation so the strictly-past running features (turn counts, token
running mean, ts-threshold session index, last tool) stream out per
microbatch with zero temporal leakage — each emitted row only reflects turns
at or before it.

Parity contract (tested): on ordered input, the streamed feature rows equal
the batch ``sessionize``/running-aggregate formulation bit-for-bit, across
any microbatch slicing (state carries across batches; within a batch rows
are sorted by ``turn_idx``). Out-of-order arrival WITHIN a conversation is
the producer's contract (turn_idx is the conversation's own sequence);
cross-conversation lateness is bounded by the watermark.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "TRANSCRIPT_SCHEMA",
    "stream_transcripts",
    "streaming_turn_features",
    "run_stream_to_table",
    "streaming_exact_dedup",
    "streaming_point_in_time_join",
    "streaming_incremental_minhash_dedup",
    "streaming_corpus_stats",
]

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

_OUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("ts", TimestampType()),
        StructField("text_len", IntegerType()),
        StructField("n_prev_turns", LongType()),
        StructField("n_tokens_avg_past", DoubleType()),
        StructField("session_gap_s", DoubleType()),
        StructField("session_seq", LongType()),
        StructField("last_tool", StringType()),
    ]
)

# one tiny row per live conversation
_STATE_SCHEMA = StructType(
    [
        StructField("n_turns", LongType()),
        StructField("tok_sum", DoubleType()),
        StructField("last_ts", DoubleType()),
        StructField("session_seq", LongType()),
        StructField("last_tool", StringType()),
    ]
)


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over an append-only transcript parquet directory (the
    Iceberg-or-parquet seam's streaming counterpart)."""
    r = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return r.parquet(path)


def streaming_turn_features(
    stream: DataFrame,
    tau_seconds: float = 1800.0,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: per-conversation strictly-past running
    features over a stream of turns. State = (n_turns, token sum, last ts,
    session counter, last tool); each microbatch sorts its slice by
    ``turn_idx``, folds it through the state, and emits one feature row per
    input turn. Semantics match the batch operators exactly:

    - n_prev_turns / n_tokens_avg_past: rows strictly before this turn
      (windows.rolling(None, -1) forms);
    - session_gap_s / session_seq: ts-threshold sessionization
      (windows.session_gap / sessionize);
    - last_tool: strictly-past forward-fill (windows.ffill strict_past).

    Lateness contract: rows whose event time is older than the current
    watermark (max seen ts - ``watermark`` delay) are DROPPED before the
    state fold. Spark does NOT pre-filter late input for arbitrary stateful
    operators the way it does for streaming aggregations — the watermark
    only gates state timeouts — so the operator enforces the documented
    bound itself via ``GroupState.getCurrentWatermarkMs`` (0 on the first
    microbatch = nothing dropped). Lateness within the delay is accepted;
    the session timezone is pinned to UTC (session.py) so the epoch
    arithmetic is consistent with the watermark's epoch-millis.

    ``text_len`` and the per-turn token count come from the batch
    projection ``windows.text_stats_ints``, computed JVM-side before the
    state fn, so streamed ``n_tokens_avg_past`` is bit-comparable to the
    batch feature build on the same corpus.
    """
    from .operators.windows import text_stats_ints

    tau = float(tau_seconds)

    def fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n_turns, tok_sum, last_ts, session_seq, last_tool = state.get
        else:
            n_turns, tok_sum, last_ts, session_seq, last_tool = 0, 0.0, None, -1, None
        import numpy as np

        wm_s = state.getCurrentWatermarkMs() / 1000.0
        out = []
        for pdf in pdfs:
            if wm_s > 0:
                pdf = pdf[(pdf["ts"].astype("int64") / 1e9) >= wm_s]
            n = len(pdf)
            if n == 0:
                continue
            pdf = pdf.sort_values("turn_idx", kind="mergesort")
            # null text counts as empty: 0 chars, 0 tokens
            toks = pdf["n_tokens"].fillna(0).to_numpy("int64")
            ep = (pdf["ts"].astype("int64") / 1e9).to_numpy()

            # every running feature is prefix-decomposable: carried scalars
            # from the state + within-batch EXCLUSIVE cumsums (the same
            # decomposition salted_cumsum uses) — no per-row Python
            n_prev = n_turns + np.arange(n, dtype=np.int64)
            tok_excl = tok_sum + np.concatenate(
                ([0.0], np.cumsum(toks, dtype=np.float64)[:-1])
            )
            tok_avg = np.where(n_prev > 0, tok_excl / np.maximum(n_prev, 1), np.nan)

            prev_ts = np.concatenate(
                ([np.nan if last_ts is None else last_ts], ep[:-1])
            )
            gaps = ep - prev_ts  # NaN (-> null) on the first-ever turn
            is_new = np.isnan(gaps) | (gaps > tau)
            seqs = session_seq + np.cumsum(is_new.astype(np.int64))

            # strictly-past forward-fill of the tool string: within-batch
            # shift+ffill, carried last_tool fills the leading gap
            tools_past = pdf["tool"].shift(1).ffill().astype(object)
            tools_past = tools_past.where(tools_past.notna(), last_tool)

            o = pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].to_numpy(),
                    "turn_idx": pdf["turn_idx"].to_numpy(),
                    "ts": pdf["ts"].to_numpy(),
                    "text_len": pdf["text_len"].fillna(0).to_numpy("int32"),
                    "n_prev_turns": n_prev,
                    "n_tokens_avg_past": tok_avg,
                    "session_gap_s": gaps,
                    "session_seq": seqs,
                    "last_tool": tools_past.to_numpy(dtype=object),
                }
            )
            out.append(o)

            n_turns += n
            tok_sum += float(toks.sum())
            last_ts = float(ep[-1])
            session_seq = int(seqs[-1])
            in_batch = pdf["tool"].dropna()
            if len(in_batch):
                last_tool = str(in_batch.iloc[-1])
        state.update((n_turns, tok_sum, last_ts, session_seq, last_tool))
        yield from out

    stats = text_stats_ints("text")
    return (
        stream.withColumns({c: stats[c] for c in ("text_len", "n_tokens")})
        .drop("text")
        .withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_stream_to_table(
    features: DataFrame, table_name: str, checkpoint_dir: str
) -> Any:
    """Drain all available input into an in-memory sink (availableNow —
    bounded reprocessing with streaming semantics + checkpointed progress);
    returns the finished StreamingQuery."""
    q = (
        features.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


_DEDUP_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)

_DEDUP_STATE = StructType([StructField("seen", IntegerType())])


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    state_ttl_minutes: float | None = None,
    ttl_mode: str = "processing",
    event_ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming exact deduplication for a continuous document feed: key
    the stream by the 64-bit hash of the normalized text (the same
    normalization as batch ``dedup.exact_dedup``), keep one tiny
    seen-flag state row per distinct text, and emit ONLY each text's first
    arrival — duplicates in later microbatches (or later in the same
    batch) are suppressed. Within a microbatch, ties break by min id
    (matching the batch operator's keep="min").

    Scale shape: state is one int per DISTINCT document ever seen, sharded
    by the state-store partitioning; the arriving batch is shuffled once
    on the text hash. This is the ingest-time companion to the batch
    dedup family: dedup-on-arrival instead of dedup-by-rescan.

    ``state_ttl_minutes`` bounds the state store on an endless feed: a
    text's seen-flag expires after that long without re-arrival. The
    documented tradeoff: a duplicate arriving AFTER its flag expired is
    re-emitted — size the TTL to the dedup horizon the pipeline actually
    needs; None (default) keeps state forever. Two clocks:

    - ``ttl_mode="processing"`` (wall clock): CONTINUOUS queries only — a
      processing-time timeout keeps scheduling batches to service future
      expiries, so a ``trigger(availableNow=True)`` drain never terminates
      with a TTL set (measured, not hypothetical).
    - ``ttl_mode="event"``: the TTL rides the EVENT-TIME watermark of
      ``event_ts_col`` (``withWatermark(event_ts_col, watermark_delay)``
      is applied here): a seen-flag expires once the watermark passes
      last-arrival-ts + TTL. Because the watermark only advances with
      data, bounded ``availableNow`` drains terminate normally — this is
      the mode for bounded reprocessing with TTL semantics. Expiry is
      serviced by the first batch AFTER the watermark passes; a duplicate
      arriving in that same batch still sees the flag (data handling
      takes precedence over timeout handling) and is suppressed."""
    from .operators.dedup import normalize_text

    if ttl_mode not in ("processing", "event"):
        raise ValueError(f"ttl_mode must be processing|event, got {ttl_mode!r}")
    ttl_ms = int(state_ttl_minutes * 60_000) if state_ttl_minutes else None
    event = ttl_mode == "event" and ttl_ms is not None

    cols = [
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
        F.xxhash64(normalize_text(text_col)).alias("__h"),
    ]
    if event:
        stream = stream.withWatermark(event_ts_col, watermark_delay)
        cols.append(F.col(event_ts_col).alias("__ts"))
    keyed = stream.select(*cols)

    def fn(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()  # expired seen-flag: free the state-store row
            return
        # A large group arrives as MULTIPLE Arrow chunks within one batch
        # (arrow.maxRecordsPerBatch); the min-id tie-break must consider
        # them ALL before emitting, so drain first, emit once. The event
        # mode also needs the batch's max event ts to re-arm the timeout,
        # so it drains even when the flag already exists.
        best, max_ts = None, None
        fresh = not state.exists
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if event:
                m = pdf["__ts"].max()
                if not pd.isna(m):  # all-null ts chunk carries no clock
                    max_ts = m if max_ts is None else max(max_ts, m)
            elif not fresh:
                break  # nothing needed from the data: suppress fast
            if fresh:
                cand = pdf.sort_values("doc_id", kind="mergesort").iloc[:1]
                if best is None or cand["doc_id"].iloc[0] < best["doc_id"].iloc[0]:
                    best = cand
        if best is not None:
            state.update((1,))
        if ttl_ms and (state.exists or best is not None):
            # must be re-armed every invocation (Spark clears it)
            if event:
                # setTimeoutTimestamp raises below the CURRENT watermark, and
                # applyInPandasWithState does NOT drop late rows for us — a
                # key whose latest arrival lags the global max event time by
                # more than the TTL (normal in multi-key availableNow drains)
                # would otherwise poison the microbatch. Clamp to wm+1: such
                # a key is already past its horizon, so expire it at the next
                # timeout sweep. All-null-ts batches (max_ts None) fall back
                # to wm+TTL so existing state stays expirable; if the
                # watermark hasn't advanced yet (wm==0) there is nothing
                # legal to arm — leave the timeout for a later batch.
                wm = state.getCurrentWatermarkMs()
                if max_ts is not None:
                    cand = int(pd.Timestamp(max_ts).value // 1_000_000) + ttl_ms
                elif wm > 0:
                    cand = wm + ttl_ms
                else:
                    cand = None
                if cand is not None:
                    state.setTimeoutTimestamp(max(cand, wm + 1))
            else:
                state.setTimeoutDuration(ttl_ms)
        if best is not None:
            yield best[["doc_id", "text"]]

    if ttl_ms is None:
        timeout = GroupStateTimeout.NoTimeout
    elif event:
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    return keyed.groupBy("__h").applyInPandasWithState(
        fn,
        outputStructType=_DEDUP_OUT,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )


_PIT_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("label", DoubleType()),
        StructField("feature_ts", TimestampType()),
        StructField("fvalue", DoubleType()),
    ]
)

# latest feature seen per conversation; ts kept as int64 NANOSECONDS —
# float seconds cannot represent a modern ns epoch exactly (> 2^53)
_PIT_STATE = StructType(
    [
        StructField("last_fts", LongType()),
        StructField("last_fval", DoubleType()),
    ]
)


def streaming_point_in_time_join(
    features: DataFrame,
    probes: DataFrame,
    state_ttl_minutes: float | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Online point-in-time join — the streaming counterpart of the batch
    ``asof_join`` (backward, inclusive): each probe (conv_id, ts, label)
    is matched with the latest feature row (conv_id, ts, fvalue) whose
    ts <= probe.ts, as known AT ARRIVAL TIME. State per conversation is
    one row: the latest feature (ts, value) — the online-feature-store
    'last value' register.

    Semantics vs batch: identical when the interleaved stream is delivered
    in event-time order (parity-tested across microbatch slicings, exactly
    like streaming_turn_features). A feature arriving AFTER a probe it
    should have matched cannot retroactively re-emit that probe — that is
    the inherent online-serving contract, not a bug; re-run the batch
    as-of join for backfills. Features that arrive LATE relative to the
    carried state register (batch ts < carried last_fts) are dropped
    before the fold: under the single-register online contract they can
    never be served (the register only ever holds the latest feature), and
    keeping them would both break the sortedness np.searchsorted requires
    and let line-final state regress the register to an older feature.
    The register is therefore monotone in ts by construction.

    Implementation: tag + union the two streams, group by conv_id, fold
    each microbatch vectorized — sort by (ts, side) with features first on
    ties (inclusive as-of), np.searchsorted probes into the carried+batch
    feature timeline. No per-row Python.

    ``state_ttl_minutes`` bounds the register store on an endless feed (the
    same event-time TTL mechanism as ``streaming_exact_dedup``'s
    ttl_mode="event"): an idle conversation's register is evicted once the
    event-time watermark of the unioned stream passes its last activity +
    TTL. The documented re-arrival contract after eviction: the
    conversation starts cold — a probe arriving before any NEW feature
    gets a null match (exactly like a never-seen conversation), and the
    stale-arrival drop rule restarts from the first post-eviction feature
    (an old feature re-sent after eviction re-seeds the register). Size
    the TTL to the serving horizon; None (default) keeps registers
    forever. Bounded ``availableNow`` drains terminate normally because
    the clock is the data-driven watermark."""
    ttl_ms = int(state_ttl_minutes * 60_000) if state_ttl_minutes else None
    f = features.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("ts"),
        F.lit(0).alias("__side"),
        F.col("fvalue").cast("double").alias("fvalue"),
        F.lit(None).cast("double").alias("label"),
    )
    p = probes.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast("double").alias("fvalue"),
        F.col("label").cast("double").alias("label"),
    )
    u = f.unionByName(p)
    if ttl_ms:
        u = u.withWatermark("ts", watermark_delay)

    def fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.hasTimedOut:
            state.remove()  # idle conversation: free its register row
            return
        last_fts, last_fval = state.get if state.exists else (None, None)
        max_ms = None  # batch's max event time (ms) for TTL re-arming
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if ttl_ms:
                m = pdf["ts"].max()
                if not pd.isna(m):
                    mm = int(pd.Timestamp(m).value // 1_000_000)
                    max_ms = mm if max_ms is None else max(max_ms, mm)
            pdf = pdf.sort_values(["ts", "__side"], kind="mergesort")
            ep = pdf["ts"].astype("int64").to_numpy()  # ns, exact
            side = pdf["__side"].to_numpy()
            f_ts = ep[side == 0]
            f_val = pdf["fvalue"].to_numpy()[side == 0]
            if last_fts is not None:
                # drop stale arrivals (older than the register): keeps
                # f_ts sorted and the state register monotone; ties keep
                # the batch row (newer arrival wins searchsorted right-1)
                fresh = f_ts >= last_fts
                f_ts = np.concatenate(([last_fts], f_ts[fresh]))
                f_val = np.concatenate(([last_fval], f_val[fresh]))
            pm = side == 1
            if pm.any():
                p_ts = ep[pm]
                if len(f_ts):
                    idx = np.searchsorted(f_ts, p_ts, side="right") - 1
                    ok = idx >= 0
                    fts = pd.to_datetime(
                        pd.Series(f_ts[np.maximum(idx, 0)]), unit="ns"
                    ).where(pd.Series(ok))
                    fv = np.where(ok, f_val[np.maximum(idx, 0)], np.nan)
                else:
                    # no register and no features in the batch: every probe
                    # is a cold miss (a never-seen conversation, or the
                    # first activity after a TTL eviction)
                    npb = int(pm.sum())
                    fts = pd.Series([pd.NaT] * npb, dtype="datetime64[ns]")
                    fv = np.full(npb, np.nan)
                out = pd.DataFrame(
                    {
                        "conv_id": pdf["conv_id"].to_numpy()[pm],
                        "ts": pdf["ts"].to_numpy()[pm],
                        "label": pdf["label"].to_numpy()[pm],
                        "feature_ts": fts.to_numpy(),
                        "fvalue": fv,
                    }
                )
                yield out
            if len(f_ts):
                last_fts, last_fval = int(f_ts[-1]), float(f_val[-1])
        if last_fts is not None:
            state.update((last_fts, last_fval))
        if ttl_ms and state.exists:
            # same clamp discipline as streaming_exact_dedup's event mode:
            # never arm below the current watermark (PySpark raises), fall
            # back to wm+TTL when the batch had no usable event ts, skip
            # entirely while the watermark is still 0
            wm = state.getCurrentWatermarkMs()
            cand = (max_ms + ttl_ms) if max_ms is not None else (
                wm + ttl_ms if wm > 0 else None
            )
            if cand is not None:
                state.setTimeoutTimestamp(max(cand, wm + 1))

    timeout = (
        GroupStateTimeout.EventTimeTimeout if ttl_ms else GroupStateTimeout.NoTimeout
    )
    return u.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=_PIT_OUT,
        stateStructType=_PIT_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )


def streaming_incremental_minhash_dedup(
    stream_docs: DataFrame,
    store_dir: str,
    kept_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    shingle_n: int = 3,
    hash_family: str = "xxhash",
    seed: int = 7,
):
    """Continuous-ingest near-dup dedup: each microbatch of new documents is
    deduplicated against the persisted signature store with
    ``incremental_minhash_dedup`` (batch semantics, oracle-checked there),
    kept docs land in ``kept_dir`` and the batch's signatures (ALL ids,
    kept or dropped — the greedy-chain requirement) are appended to
    ``store_dir``. The streaming form of the daily-ingest operator: run
    with ``trigger(availableNow=True)`` per arriving shard set, or leave
    running on a feed.

    Returns the ``DataStreamWriter`` (caller picks the trigger/checkpoint
    and calls ``start()``).

    Exactness: kept set == full-corpus ``minhash_dedup`` restricted to each
    batch's ids, under the same monotone-ingest-id contract as the batch
    operator (ids nondecreasing with batch order — the natural shard
    layout).

    Idempotence/restart: each batch writes per-batch directories
    (``.../batch=N``) with mode=overwrite, so a crashed-and-replayed
    microbatch (at-least-once ``foreachBatch``) rewrites the same paths
    instead of duplicating rows. A replay that sees a store already
    containing its own or FUTURE ids is still exact: the band join only
    lets a STRICTLY SMALLER stored id suppress a new doc, so stale store
    contents cannot change a verdict. Restarting with the same checkpoint
    resumes after the last committed batch and leaves prior directories
    untouched.

    Scale shape: identical to the batch operator per microbatch — the
    corpus contributes only signature rows (no text re-read), the shard
    side is batch-sized; the store directory is append-only parquet
    (swap in ``write_banded_signature_store`` bucketed tables where a
    metastore exists — dedup.py carries that layout).
    """
    from pyspark.sql.types import ArrayType

    from .operators.dedup import incremental_minhash_dedup

    sig_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("minhash", ArrayType(LongType())),
        ]
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            store = (
                spark.read.schema(sig_schema)
                .option("basePath", store_dir)
                .parquet(store_dir)
                .select(id_col, "minhash")
            )
            store.head(1)  # surface PATH_NOT_FOUND before planning the join
        except Exception:
            store = spark.createDataFrame([], sig_schema)
        kept, new_sigs = incremental_minhash_dedup(
            batch_df,
            store,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            shingle_n=shingle_n,
            hash_family=hash_family,
            seed=seed,
        )
        kept.write.mode("overwrite").parquet(f"{kept_dir}/batch={batch_id}")
        new_sigs.write.mode("overwrite").parquet(f"{store_dir}/batch={batch_id}")
        new_sigs.unpersist()

    return stream_docs.writeStream.foreachBatch(_batch).outputMode("update")


def streaming_corpus_stats(
    docs: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "0 seconds",
    ts_col: str = "ts",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Watermarked event-time windowed corpus monitoring — the ingestion
    dashboard behind a continuous crawl: per (tumbling event-time window,
    language): document count, mean heuristic quality, total whitespace
    tokens. This is the one streaming shape the module's stateful
    operators do NOT cover: a BUILT-IN windowed aggregation (pure JVM,
    partial+final agg over window state — no Python stage, no custom
    state schema), where the watermark both bounds state (a window's
    aggregate is dropped once the watermark passes its end) and defines
    emission (append mode emits a window exactly once, when finalized).

    Works identically on a batch DataFrame (``withWatermark`` is a no-op
    there) — the parity contract tested in ``test_streaming.py``: the
    streamed result equals the batch groupBy(window) restricted to
    finalized windows (end <= final watermark), across microbatch
    slicings, with cross-batch accumulation and within-delay late rows
    merged into their window. Rows later than the watermark are dropped
    best-effort per Spark's contract (guaranteed-merged only within
    ``watermark_delay``) — a monitoring aggregate, not an exactness
    surface, which is why the delay should be sized to the feed's real
    disorder.

    Scale shape: state is one small aggregate row per (window, lang) —
    bounded by languages x live windows, independent of corpus size; the
    quality/token expressions are the batch operators' own column
    expressions (operators/text.py), so batch and stream score
    identically by construction."""
    from powershap_spark.operators.text import quality_score, token_count

    win = F.window(F.col(ts_col), window_duration).alias("__win")
    return (
        docs.withWatermark(ts_col, watermark_delay)
        .groupBy(win, F.col(lang_col))
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(quality_score(text_col)), 6).alias("mean_quality"),
            F.sum(token_count(text_col)).cast("long").alias("n_tokens"),
        )
        .select(
            F.col("__win.start").alias("window_start"),
            F.col("__win.end").alias("window_end"),
            F.col(lang_col),
            "n_docs",
            "mean_quality",
            "n_tokens",
        )
    )


_DM_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("dm_cnt", LongType()),
        StructField("dm_mean", DoubleType()),
    ]
)

# register referenced at last_us: num = sum(v_i * 2^{-(last-t_i)/h}),
# den likewise over unit weights — every stored magnitude is <= the raw
# running totals, so the state NEVER grows numerically across batches
_DM_STATE = StructType(
    [
        StructField("last_ns", LongType()),
        StructField("num", DoubleType()),
        StructField("den", DoubleType()),
        StructField("cnt", LongType()),
    ]
)


def streaming_decayed_mean(
    events: DataFrame,
    half_life_s: float = 86400.0,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    state_ttl_minutes: float | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Online decayed-mean register — the streaming counterpart of the
    batch ``decayed_past_mean`` (exp weighting): each arriving event
    (key, ts, value) is emitted with the exponentially-decayed mean of
    STRICTLY EARLIER same-key values as known AT ARRIVAL, then folded
    into a four-number register (last event time, decayed value sum,
    decayed weight sum, count) — the online feature store's EWMA cell.
    State per key is ONE row whose magnitudes never exceed the raw
    running totals (sums are stored decayed to the register's own event
    time), so an endless feed cannot overflow the register.

    Semantics vs batch: identical (allclose — float association differs)
    when the stream is delivered in event-time order, parity-tested
    across microbatch slicings like ``streaming_turn_features``. Rows
    arriving LATE relative to the register (ts <= the register's last
    event time — a tie may already be blended in, and strictly-past must
    exclude it) cannot be served their strictly-past mean anymore — the
    register has already blended newer values irreversibly — so they are
    emitted with NULL ``dm_cnt``/``dm_mean`` but still FOLDED into the
    register with their correct (sub-unit) weight: subsequent rows see
    them exactly as the batch operator would. Within a batch,
    simultaneous rows never see each other (strictly-earlier
    ``searchsorted``), matching the batch RANGE-frame contract.

    Vectorized fold, no per-row Python: one sort per microbatch slice,
    weights rebased to the slice's first event time (prefix sums of
    ``v*2^{(t_i-t0)/h}``), the per-row ``2^{-(t-t0)/h}`` normalization
    cancelling in the mean — the same algebra as the batch operator.
    Keep a slice's event-time span under ~900 half-lives (the rebased
    weights are doubles); the REGISTER itself is span-proof.

    ``state_ttl_minutes``: same event-time TTL/eviction contract as
    ``streaming_point_in_time_join`` — an idle key's register is dropped
    once the watermark passes its last activity + TTL, and the key
    restarts cold."""
    if half_life_s <= 0:
        raise ValueError(f"half_life_s must be > 0, got {half_life_s}")
    ttl_ms = int(state_ttl_minutes * 60_000) if state_ttl_minutes else None
    h_ns = float(half_life_s) * 1e9

    u = events.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )
    if ttl_ms:
        u = u.withWatermark("ts", watermark_delay)

    def fn(
        key: Tuple[str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.hasTimedOut:
            state.remove()
            return
        last_ns, num_c, den_c, cnt_c = (
            state.get if state.exists else (None, 0.0, 0.0, 0)
        )
        max_ms = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            if ttl_ms:
                m = pdf["ts"].max()
                if not pd.isna(m):
                    mm = int(pd.Timestamp(m).value // 1_000_000)
                    max_ms = mm if max_ms is None else max(max_ms, mm)
            pdf = pdf.sort_values("ts", kind="mergesort").reset_index(drop=True)
            tns = pdf["ts"].astype("int64").to_numpy()
            v = pdf["value"].to_numpy(dtype=float)
            ok = ~np.isnan(v)
            # ts EQUAL to the register's last event time is late too: a
            # simultaneous value may already be blended into the register,
            # and strictly-past must exclude it — order batch cuts between
            # distinct timestamps to avoid null emissions on ties
            late = (
                tns <= last_ns if last_ns is not None else np.zeros(len(tns), bool)
            )

            out_cnt = np.full(len(tns), np.nan)
            out_mean = np.full(len(tns), np.nan)
            live = ~late
            # fold late rows into the carry FIRST (their ts <= last_ns, so
            # the weight 2^{(t-last)/h} is sub-unit and exact): live rows
            # of this very batch must already see them, exactly as the
            # batch operator would
            if late.any():
                okl = ok & late
                w_late = np.where(
                    okl, np.power(2.0, (tns - last_ns) / h_ns), 0.0
                )
                num_c += float((np.nan_to_num(v) * w_late).sum())
                den_c += float(w_late.sum())
                cnt_c = int(cnt_c) + int(okl.sum())
            if live.any():
                t0 = int(tns[live][0])
                b = np.power(2.0, (tns - t0) / h_ns)
                a = np.where(ok & live, np.nan_to_num(v) * b, 0.0)
                wgt = np.where(ok & live, b, 0.0)
                c = (ok & live).astype(np.int64)
                csum_a = np.concatenate(([0.0], np.cumsum(a)))
                csum_w = np.concatenate(([0.0], np.cumsum(wgt)))
                csum_c = np.concatenate(([0], np.cumsum(c)))
                k = np.searchsorted(tns, tns, side="left")  # strictly earlier
                carry_ref = (
                    np.power(2.0, (last_ns - t0) / h_ns)
                    if last_ns is not None
                    else 0.0
                )
                num_i = num_c * carry_ref + csum_a[k]
                den_i = den_c * carry_ref + csum_w[k]
                cnt_i = cnt_c + csum_c[k]
                pos = den_i > 0
                out_mean[live & pos] = (num_i / np.where(pos, den_i, 1.0))[
                    live & pos
                ]
                out_cnt[live] = cnt_i[live]
            yield pd.DataFrame(
                {
                    "key": pdf["key"],
                    "ts": pdf["ts"],
                    "value": pdf["value"],
                    "dm_cnt": pd.array(
                        [None if np.isnan(x) else int(x) for x in out_cnt],
                        dtype="Int64",
                    ),
                    "dm_mean": out_mean,
                }
            )
            # fold the LIVE rows into the register (late rows were folded
            # into the carry above), referenced at the new last event —
            # cold start takes the batch max verbatim (clamping to 0 would
            # misclassify every pre-epoch/negative event time as late)
            new_last = (
                int(tns.max())
                if last_ns is None
                else int(max(tns.max(), last_ns))
            )
            d_carry = (
                np.power(2.0, (last_ns - new_last) / h_ns)
                if last_ns is not None
                else 0.0
            )
            okv = ok & live
            w_new = np.where(okv, np.power(2.0, (tns - new_last) / h_ns), 0.0)
            num_c = num_c * d_carry + float((np.nan_to_num(v) * w_new).sum())
            den_c = den_c * d_carry + float(w_new.sum())
            cnt_c = int(cnt_c) + int(okv.sum())
            last_ns = new_last
        if last_ns is not None:
            state.update((int(last_ns), float(num_c), float(den_c), int(cnt_c)))
        if ttl_ms and state.exists:
            wm = state.getCurrentWatermarkMs()
            cand = (max_ms + ttl_ms) if max_ms is not None else (
                wm + ttl_ms if wm > 0 else None
            )
            if cand is not None:
                state.setTimeoutTimestamp(max(cand, wm + 1))

    timeout = (
        GroupStateTimeout.EventTimeTimeout if ttl_ms else GroupStateTimeout.NoTimeout
    )
    return u.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=_DM_OUT,
        stateStructType=_DM_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )
