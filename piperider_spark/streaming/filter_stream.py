"""Streaming quality filter (Structured Streaming).

The reference is strictly batch (SURVEY.md §2.9); this is the rebuild's
continuous-ingest path: the same frozen rule/signal/scrub spec applied to a
stream of turns, with the one non-row-local rule (duplicate_turn, which in
batch is a lag window) re-expressed as **keyed state** over conv_id via
``applyInPandasWithState`` — each conversation's state is the last text
seen, exactly the lag-1 semantics.

Composition:
  readStream (file source / any) →
  applyInPandasWithState(conv_id)  — duplicate-turn flag from keyed state →
  signals UDF + native rules + scrub (identical code to batch) →
  writeStream (append) + optional watermarked per-minute metrics agg.

Scale notes: state per conversation is a fixed-size digest of the previous
turn (md5 hex + length — exact byte-equality semantics with bounded state;
a digest collision would need an md5 collision inside one conversation),
so 10^9 live conversations ≈ tens of GB of state across the cluster,
within RocksDB state-store norms. For continuous deployments pass
``state_ttl`` — state is evicted ONLY by timeouts (a watermark does not
age out applyInPandasWithState state).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from piperider_spark.rules.spec import DEFAULT_SPEC, RuleSpec

_DUP_OUT_TYPE = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
        StructField("r_duplicate_turn", BooleanType()),
    ]
)
_DUP_STATE_TYPE = StructType(
    [
        StructField("last_turn_idx", IntegerType()),
        StructField("last_text_md5", StringType()),
        StructField("last_text_len", IntegerType()),
    ]
)


def _fingerprint(text: Any) -> tuple[str, int] | None:
    if text is None or not isinstance(text, str):
        return None
    return hashlib.md5(text.encode("utf-8", "surrogatepass")).hexdigest(), len(text)


def _make_dup_state_fn(ttl_ms: int | None):
    def _dup_state_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Lag-1 text equality within a conversation, from keyed state.

        All of the group's Arrow chunks are concatenated and sorted ONCE by
        turn_idx before flags are computed — a conversation whose micro-batch
        rows span multiple chunks would otherwise be processed in chunk order
        and compare against the wrong neighbor (exactly the long-conversation
        skew case this module targets). The state carries the last turn's
        digest across micro-batches.
        """
        (conv_id,) = key
        if state.exists and not state.hasTimedOut:
            last_idx, last_md5, last_len = state.get
        else:
            if state.hasTimedOut:
                # idle conversation evicted (state_ttl): a turn arriving later
                # re-seeds the frontier and compares against nothing — the
                # documented bounded-state trade, conservative (never a false
                # duplicate flag)
                state.remove()
                return
            last_idx, last_md5, last_len = -1, None, -1
        # with data-driven invocation the chunk iterator is never all-empty;
        # guard anyway (a bare return leaves state untouched)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        ).sort_values("turn_idx", kind="mergesort")
        # rows at or below the frontier committed by EARLIER micro-batches
        # are late; rows of this batch are compared in sorted order, so a
        # turn_idx repeated inside one batch compares like an in-order row
        # (batch lag-1 semantics: a repeat of byte-equal text is flagged).
        # Which of two unequal repeats is compared to which follows arrival
        # order here and is unspecified in batch — the lag window's order
        # among ties is undefined there.
        frontier = last_idx
        flags = []
        for t_idx, text in zip(pdf["turn_idx"], pdf["text"]):
            if frontier >= 0 and int(t_idx) <= frontier:
                # LATE ARRIVAL below the committed frontier (cross-micro-batch
                # reordering / at-least-once replay): its true lag neighbour
                # already shipped, so comparing against the frontier digest
                # would flag against the WRONG row (review finding). Flag
                # conservatively False and leave the frontier state alone —
                # streaming == batch whenever per-conversation delivery is
                # turn-ordered (the file-source replay guarantee the pinned
                # equality tests run under), and a violation degrades to a
                # kept row, never a false drop.
                flags.append(False)
                continue
            fp = _fingerprint(text)
            dup = fp is not None and last_md5 is not None and fp == (last_md5, last_len)
            flags.append(bool(dup))
            if fp is None:
                last_md5, last_len = None, -1
            else:
                last_md5, last_len = fp
            last_idx = int(t_idx)
        pdf = pdf.assign(r_duplicate_turn=flags)
        state.update((last_idx, last_md5, last_len))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pdf[[f.name for f in _DUP_OUT_TYPE.fields]]

    return _dup_state_fn


def with_streaming_dup_flag(
    stream_df: DataFrame, state_ttl: str | None = None
) -> DataFrame:
    """Attach r_duplicate_turn via keyed conversation state.

    ``state_ttl`` (duration string, e.g. ``"30 minutes"``) bounds state for
    CONTINUOUS deployments via a processing-time timeout: a conversation
    idle for the duration is evicted (a later turn then compares against
    nothing — conservative, never a false duplicate flag). Without it,
    state is one fixed-size digest per conversation FOREVER — fine for
    drain-style runs, unbounded for continuous ones (review finding: the
    module header used to claim the watermark evicts this state; it does
    not — only timeouts evict applyInPandasWithState state). The same
    AvailableNow caveat as :func:`stream_exact_dedup` applies: leave the
    TTL unset for drain-style runs."""
    ttl = _ttl_ms(state_ttl)
    return stream_df.groupBy("conv_id").applyInPandasWithState(
        _make_dup_state_fn(ttl),
        outputStructType=_DUP_OUT_TYPE,
        stateStructType=_DUP_STATE_TYPE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def stream_decisions(
    stream_df: DataFrame,
    spec: RuleSpec = DEFAULT_SPEC,
    state_ttl: str | None = None,
) -> DataFrame:
    """Full streaming plan: stateful dup flag → batch-identical signals,
    rules and scrub (shared code; with the digest-exact duplicate state the
    streaming and batch outputs agree row-for-row under per-conversation
    turn-ordered delivery). ``state_ttl`` bounds the per-conversation dup
    state for continuous deployments (see with_streaming_dup_flag)."""
    from piperider_spark.pipeline import build_decisions

    flagged = with_streaming_dup_flag(stream_df, state_ttl=state_ttl)
    return build_decisions(flagged, spec)


_FIRST_SEEN_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
        StructField("is_first", BooleanType()),
    ]
)
_FIRST_SEEN_STATE = StructType([StructField("seen", BooleanType())])


def _ttl_ms(state_ttl: str | None) -> int | None:
    """Parse a pandas-style duration string ('30 minutes') to milliseconds
    for ``GroupState.setTimeoutDuration``; None passes through."""
    if state_ttl is None:
        return None
    ms = int(pd.Timedelta(state_ttl).total_seconds() * 1000)
    if ms <= 0:
        raise ValueError(f"state_ttl must be a positive duration, got {state_ttl!r}")
    return ms


def _make_first_seen_fn(ttl_ms: int | None):
    def _first_seen_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """First-seen-wins within a fingerprint group: exactly one row across
        the whole stream keeps ``is_first`` (deterministic: rows inside a batch
        are ordered by (ts, conv_id, turn_idx) before flagging). With a TTL,
        a fingerprint idle for the duration is evicted — the documented
        bounded-state trade: a duplicate arriving after eviction is first
        again."""
        if state.hasTimedOut:
            state.remove()
            return
        # data-driven invocation: the chunk iterator is never all-empty
        # (the timeout case returned above); guard with a bare return
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ).sort_values(["ts", "conv_id", "turn_idx"], kind="mergesort")
        flags = [False] * len(pdf)
        if not state.exists and key[0] != "__null__":
            flags[0] = True
        state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        pdf = pdf.assign(is_first=flags)
        yield pdf[[f.name for f in _FIRST_SEEN_OUT.fields]]

    return _first_seen_fn


_first_seen_fn = _make_first_seen_fn(None)


def stream_exact_dedup(
    stream_df: DataFrame, state_ttl: str | None = None
) -> DataFrame:
    """Cross-document streaming exact dedup: the stream is keyed by the
    text fingerprint (md5 of whitespace-normalized lowercase text — the
    same exact-dedup key as batch ``operators/dedup``), and keyed state
    remembers whether the fingerprint was ever seen; only the first
    occurrence keeps ``is_first = true``.

    Scale notes: state is ONE boolean per distinct fingerprint — the
    streaming twin of the batch hash-groupBy, bounded by corpus
    distinctness, not stream length. ``state_ttl`` (a duration string,
    e.g. ``"7 days"``) bounds it further for unbounded deployments via a
    processing-time timeout: a fingerprint IDLE for the duration (no new
    occurrence re-arms it) is evicted, so state tracks the recently-active
    set. The trade is explicit: a duplicate arriving after its
    fingerprint's eviction is flagged first again — exact dedup within the
    TTL horizon, the same semantics every bounded-state streaming dedup
    (e.g. a TTL'd Redis set) has. TTL is for CONTINUOUS deployments only:
    under ``Trigger.AvailableNow`` pending processing-time timers keep the
    query scheduling no-data cleanup batches indefinitely (measured:
    batches spin at rowsTotal=0 after the eviction), so drain-style runs
    must leave ``state_ttl`` unset. NULL-text rows have no dedup identity:
    they pass through with ``is_first = false`` (the quality rules drop
    empty text anyway).
    """
    from piperider_spark.functions.text import fingerprint

    ttl = _ttl_ms(state_ttl)
    keyed = stream_df.withColumn(
        "__fp", F.coalesce(fingerprint("text"), F.lit("__null__"))
    )
    return (
        keyed.groupBy("__fp")
        .applyInPandasWithState(
            _make_first_seen_fn(ttl) if ttl is not None else _first_seen_fn,
            outputStructType=_FIRST_SEEN_OUT,
            stateStructType=_FIRST_SEEN_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
            if ttl is not None
            else GroupStateTimeout.NoTimeout,
        )
    )


_NEAR_DUP_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("band_key", StringType()),
        StructField("is_first", BooleanType()),
        StructField("first_doc_id", LongType()),
    ]
)
_NEAR_DUP_STATE = StructType([StructField("first_doc_id", LongType())])


def _make_bucket_first_fn(ttl_ms: int | None):
    def _bucket_first_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """First-doc-wins within one LSH band bucket. Rows inside a batch are
        ordered by doc_id before flagging (deterministic); the bucket's first
        doc id persists in state so later micro-batches flag against it."""
        if state.hasTimedOut:
            state.remove()
            return
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ).sort_values("doc_id", kind="mergesort")
        if state.exists:
            first = int(state.get[0])
        else:
            first = int(pdf["doc_id"].iloc[0])
            state.update((first,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        # is_first is identity-based in BOTH branches: a replayed/re-delivered
        # row for the bucket owner itself (at-least-once delivery) must never
        # be emitted as a candidate against its own doc_id.
        is_first = (pdf["doc_id"] == first).tolist()
        out = pdf.assign(is_first=is_first, first_doc_id=first)
        yield out[[f.name for f in _NEAR_DUP_OUT.fields]]

    return _bucket_first_fn


_bucket_first_fn = _make_bucket_first_fn(None)


def stream_near_dup_candidates(
    stream_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    k: int = 3,
    state_ttl: str | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup candidate detection — the streaming
    twin of the batch ``dedup.minhash_lsh_pairs`` mining stage.

    The MinHash signature is ROW-LOCAL (``dedup.minhash_band_keys``: each
    doc's banded keys come from its own shingles as plain JVM expressions),
    so the whole operator needs exactly ONE stateful step: first-doc-wins
    keyed state per band bucket. Output grain is (doc, band): a doc is a
    near-dup CANDIDATE iff any of its band rows has ``is_first = false``
    (it shares a bucket with an earlier doc — ``first_doc_id`` names it);
    the exact-verify step stays a batch join, same as the batch path.

    Scale notes: state is one int64 per non-empty band bucket — bounded by
    corpus distinctness × n_bands, the streaming analogue of the batch
    bucket join. ``state_ttl`` (duration string) evicts buckets idle for
    the duration via a processing-time timeout, bounding state to the
    recently-active set; a doc landing in an evicted bucket becomes its new
    owner (near-dup detection within the TTL horizon; continuous triggers
    only — see :func:`stream_exact_dedup` on AvailableNow). Docs with no
    shingles (empty text) carry no similarity identity and are filtered
    before the state op.
    """
    from piperider_spark.operators.dedup import minhash_band_keys

    ttl = _ttl_ms(state_ttl)
    keys = minhash_band_keys(text_col, n_hashes, n_bands, k)
    exploded = (
        stream_df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(keys).alias("band_key"),
        )
        # band keys depend only on text, so a NULL/uncastable doc_id would
        # reach the stateful fn as NaN and permanently wedge the query
        # (int(NaN) raises, the task dies, the checkpoint replays it) —
        # rows without a dedup identity are filtered with the keys
        .where(F.col("band_key").isNotNull() & F.col(id_col).isNotNull())
    )
    return exploded.groupBy("band_key").applyInPandasWithState(
        _make_bucket_first_fn(ttl) if ttl is not None else _bucket_first_fn,
        outputStructType=_NEAR_DUP_OUT,
        stateStructType=_NEAR_DUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if ttl is not None
        else GroupStateTimeout.NoTimeout,
    )


_NEAR_DUP_VERIFIED_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("band_key", StringType()),
        StructField("is_first", BooleanType()),
        StructField("first_doc_id", LongType()),
        StructField("jaccard", DoubleType()),
        StructField("verified", BooleanType()),
    ]
)
_NEAR_DUP_VERIFIED_STATE = StructType(
    [
        StructField("first_doc_id", LongType()),
        StructField("first_shingles", ArrayType(LongType())),
    ]
)


def _make_bucket_verify_fn(threshold: float, ttl_ms: int | None = None):
    def _bucket_verify_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """First-doc-wins per band bucket PLUS stream-side exact verify:
        the state carries the owner doc's shingle-hash set, so every later
        row's exact Jaccard against the owner is computed in the same
        stateful step — no batch join needed. Owner rows (including
        at-least-once re-deliveries of the owner) carry NULL jaccard and
        ``verified = false``: a doc is never a candidate against itself."""
        if state.hasTimedOut:
            state.remove()
            return
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ).sort_values("doc_id", kind="mergesort")
        if state.exists:
            first, first_sh = state.get
            first = int(first)
            owner_set = set(int(h) for h in first_sh)
        else:
            first = int(pdf["doc_id"].iloc[0])
            owner_set = set(
                int(h) for h in pdf.loc[pdf["doc_id"] == first, "shingles"].iloc[0]
            )
            state.update((first, sorted(owner_set)))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        jac, ver = [], []
        n_owner = len(owner_set)
        for did, sh in zip(pdf["doc_id"], pdf["shingles"]):
            if int(did) == first:
                jac.append(None)
                ver.append(False)
                continue
            s = set(int(h) for h in sh)
            shared = len(s & owner_set)
            union = len(s) + n_owner - shared
            j = round(shared / union, 6) if union else 0.0
            jac.append(j)
            ver.append(j >= threshold)
        out = pdf.assign(
            is_first=(pdf["doc_id"] == first).tolist(),
            first_doc_id=first,
            jaccard=pd.array(jac, dtype="float64"),
            verified=ver,
        )
        yield out[[f.name for f in _NEAR_DUP_VERIFIED_OUT.fields]]

    return _bucket_verify_fn


def stream_near_dup_verified(
    stream_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    n_bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
    max_state_shingles: int = 4096,
    state_ttl: str | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup detection WITH stream-side exact
    verification — the full streaming twin of ``dedup.minhash_lsh_pairs``
    (mining *and* verify), completing the streaming dedup story that
    :func:`stream_near_dup_candidates` left at the candidate stage.

    Per band bucket the keyed state carries ``(first_doc_id,
    first_shingle_hashes)``; every later doc that lands in the bucket is
    verified against the owner's shingle set *inside the same stateful
    step*: exact Jaccard over xxhash64-hashed distinct word shingles —
    identical to the batch verify up to 64-bit hash collisions
    (~n²/2⁶⁵, negligible). Output grain is (doc, band); ``verified``
    marks rows whose Jaccard vs the bucket owner clears ``threshold``
    (pair semantics match the batch owner-pair construction: owner =
    min doc_id in the bucket, exactly first-wins under in-order
    delivery).

    Scale notes: state per bucket is the owner's hash set — bounded by
    ``max_state_shingles`` int64s (docs with more shingles keep their
    ``max_state_shingles`` smallest hashes, a bottom-k sketch whose
    Jaccard estimate is exact whenever either side fits the cap and
    min-wise-consistent beyond it). At 10^9 buckets × a few hundred
    hashes this is RocksDB-state-store territory, the same budget class
    as the batch shuffle it replaces; ``state_ttl`` ages out cold buckets
    (processing-time idle eviction — an evicted bucket's next doc becomes
    its new owner, i.e. near-dup detection within the TTL horizon;
    continuous triggers only — see :func:`stream_exact_dedup`).
    """
    from piperider_spark.operators.dedup import minhash_band_keys, word_shingles

    keys = minhash_band_keys(text_col, n_hashes, n_bands, k)
    shingle_hashes = F.slice(
        F.array_sort(
            F.array_distinct(
                F.transform(word_shingles(text_col, k), lambda s: F.xxhash64(s))
            )
        ),
        1,
        max_state_shingles,
    )
    exploded = (
        stream_df.select(
            F.col(id_col).cast("long").alias("doc_id"),
            shingle_hashes.alias("shingles"),
            F.explode(keys).alias("band_key"),
        )
        # band keys depend only on text, so a NULL/uncastable doc_id would
        # reach the stateful fn as NaN and permanently wedge the query
        # (int(NaN) raises, the task dies, the checkpoint replays it) —
        # rows without a dedup identity are filtered with the keys
        .where(F.col("band_key").isNotNull() & F.col(id_col).isNotNull())
    )
    return exploded.groupBy("band_key").applyInPandasWithState(
        _make_bucket_verify_fn(threshold, _ttl_ms(state_ttl)),
        outputStructType=_NEAR_DUP_VERIFIED_OUT,
        stateStructType=_NEAR_DUP_VERIFIED_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl is not None
        else GroupStateTimeout.NoTimeout,
    )


def stream_conversation_rollup(
    decisions: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    min_keep_frac: float = 0.5,
) -> DataFrame:
    """Conversation-grain keep decisions over a *stream* of per-turn
    decisions — the streaming twin of ``pipeline.conversation_rollup``.

    A conversation is "complete" when no turn has arrived for ``gap`` of
    event time: ``session_window(ts, gap)`` keyed by conv_id merges turns
    into per-conversation sessions, and append mode emits each session's
    rollup exactly once, when the watermark passes its end. Aggregates and
    the keep policy (kept-turn fraction ≥ ``min_keep_frac``) are identical
    to the batch rollup, so a conversation whose turns span less than
    ``gap`` produces the same row streaming or batch.

    Scale notes: state is one (conv_id, open-session aggregate) row per
    LIVE conversation — the built-in session-window state store, merged
    incrementally and dropped on emit; idle conversations age out at
    watermark + gap, so state tracks concurrent traffic, not corpus size.
    n_roles uses collect_set over the bounded role enum (same partial-agg
    reasoning as the batch rollup — never a distinct aggregate)."""
    agg = (
        decisions.withWatermark("ts", watermark)
        .groupBy("conv_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.size(F.collect_set("role")).alias("n_roles"),
            F.min("ts").alias("ts_min"),
            F.max("ts").alias("ts_max"),
        )
    )
    frac = F.col("n_kept") / F.col("n_turns").cast("double")
    return agg.select(
        "conv_id",
        "n_turns",
        "n_kept",
        "n_roles",
        "ts_min",
        "ts_max",
        F.round(frac, 6).alias("keep_frac"),
        (frac >= F.lit(min_keep_frac)).alias("conv_keep"),
    )


def stream_conversation_fingerprints(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-conversation exact-dedup fingerprints over a transcript stream:
    ``(conv_id, fp, n_turns, ts_min, ts_max)``, one row per completed
    session (``session_window(ts, gap)`` keyed by conv_id, append-mode
    exactly-once emission like :func:`stream_conversation_rollup`).

    ``fp`` is byte-identical to the batch key
    (``dedup.conversation_exact_dup_groups``): fingerprint of the turn
    texts in stable turn_idx order, \\x1e-joined so turn boundaries
    survive the fingerprint's whitespace normalization. Order is restored
    at emission by ``array_sort`` over (turn_idx, text) structs — the
    declarative streaming twin of ``dedup.conversation_text``.

    Scale notes: the session state holds the LIVE conversation's
    (turn_idx, text) structs (collect_list merges incrementally across
    micro-batches) — bounded by conversation length × concurrent
    conversations, not corpus size, and dropped on emit. A deployment with
    pathological conversation lengths should bound the turn texts upstream
    (the quality rules' too_long cap) rather than here: truncating inside
    the aggregate would silently change the dedup key."""
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("turn_idx").alias("i"),
                F.coalesce(F.col("text"), F.lit("")).alias("t"),
            )
        )
    )
    agg = (
        stream_df.withWatermark("ts", watermark)
        .groupBy("conv_id", F.session_window("ts", gap).alias("w"))
        .agg(
            ordered.alias("__turns"),
            F.count(F.lit(1)).alias("n_turns"),
            F.min("ts").alias("ts_min"),
            F.max("ts").alias("ts_max"),
        )
    )
    from piperider_spark.functions.text import fingerprint

    conv_text = F.array_join(
        F.transform(F.col("__turns"), lambda s: s["t"]), "\x1e"
    )
    return agg.select(
        "conv_id",
        fingerprint(conv_text).alias("fp"),
        "n_turns",
        "ts_min",
        "ts_max",
    )


_CONV_FIRST_SEEN_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("fp", StringType()),
        StructField("n_turns", LongType()),
        StructField("ts_min", TimestampType()),
        StructField("ts_max", TimestampType()),
        StructField("is_first", BooleanType()),
    ]
)


def _make_conv_first_seen_fn(ttl_ms: int | None):
    def _conv_first_seen_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """First-seen-wins per conversation fingerprint (deterministic within
        a batch: rows ordered by (ts_min, conv_id) before flagging)."""
        if state.hasTimedOut:
            state.remove()
            return
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        ).sort_values(["ts_min", "conv_id"], kind="mergesort")
        flags = [False] * len(pdf)
        if not state.exists:
            flags[0] = True
        state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        pdf = pdf.assign(is_first=flags)
        yield pdf[[f.name for f in _CONV_FIRST_SEEN_OUT.fields]]

    return _conv_first_seen_fn


_conv_first_seen_fn = _make_conv_first_seen_fn(None)


def stream_conversation_exact_dedup(
    sessions: DataFrame, state_ttl: str | None = None
) -> DataFrame:
    """Cross-conversation streaming exact dedup over the
    :func:`stream_conversation_fingerprints` output: keyed state remembers
    whether a conversation fingerprint was ever seen; the first completed
    conversation with each fingerprint keeps ``is_first = true`` (earliest
    ts_min, conv_id tie-break — the streaming first-wins policy, vs the
    batch rollup's min-conv_id canonical; group MEMBERSHIP is identical).

    Spark does not allow arbitrary stateful operators after an aggregation
    in one streaming query, so this composes with the fingerprint stage as
    TWO queries chained through storage (sessions parquet/Kafka) — the
    standard production topology; the test drives exactly that. State is
    one boolean per distinct conversation fingerprint, the same budget as
    :func:`stream_exact_dedup` — and the same optional ``state_ttl``
    idle-eviction bound, with the same explicit trade (a duplicate
    conversation completing after its fingerprint's eviction is first
    again) and the same continuous-trigger-only constraint."""
    ttl = _ttl_ms(state_ttl)
    return sessions.groupBy("fp").applyInPandasWithState(
        _make_conv_first_seen_fn(ttl) if ttl is not None else _conv_first_seen_fn,
        outputStructType=_CONV_FIRST_SEEN_OUT,
        stateStructType=_FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if ttl is not None
        else GroupStateTimeout.NoTimeout,
    )


def keep_rate_by_minute(decisions: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked per-minute keep/drop counts — the streaming analogue of
    the per-bucket metrics rows (late turns beyond the watermark are
    dropped from the aggregate, not the decisions stream)."""
    return (
        decisions.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
        .select(F.col("w.start").alias("minute"), "n_turns", "n_kept")
    )


def run_stream_once(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    spec: RuleSpec = DEFAULT_SPEC,
) -> None:
    """Drain all available input once (Trigger.AvailableNow) and write
    decisions to parquet — the test/ops entry point; a production job runs
    the same query with a continuous trigger."""
    from piperider_spark.pipeline import TRANSCRIPT_COLUMNS

    # one source of truth: the field ORDER comes from the pipeline
    # contract; only the types are stated here
    _types = {
        "conv_id": StringType(),
        "turn_idx": IntegerType(),
        "role": StringType(),
        "text": StringType(),
        "tool": StringType(),
        "ts": TimestampType(),
    }
    schema = StructType([StructField(c, _types[c]) for c in TRANSCRIPT_COLUMNS])
    stream = spark.readStream.schema(schema).parquet(input_path)
    decided = stream_decisions(stream, spec).select(
        "conv_id", "turn_idx", "role", "ts", "keep", "reasons", "lang", "ppl", "text_scrubbed"
    )
    q = (
        decided.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
