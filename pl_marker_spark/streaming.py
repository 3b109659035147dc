"""Structured Streaming ingestion for transcript streams.

The reference is a pure batch pipeline (SURVEY.md §2.6 end note) — these are
engine extensions for continuous transcript feeds:

1. ``stream_extract_foreach_batch`` — file-source stream → ``foreachBatch``
   running the full batch extraction per micro-batch and appending to the
   output tables. Requires conversation-complete micro-batches (context
   windows read neighboring turns), which file-per-conversation feeds give
   naturally.

2. ``stream_extract_stateful`` — ``applyInPandasWithState`` keyed by
   ``conv_id``: turns accumulate in state until the conversation's
   end-marker row (``role = '__end__'``) arrives, then the whole
   conversation runs through the same extraction kernels and emits its
   mentions + triples. This handles conversations *split across
   micro-batches* — the case foreachBatch cannot.

Both paths produce results identical to the batch pipeline on the same
conversations (tests/test_streaming.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .config import PipelineConfig
from .oracle_ref import oracle_ner, oracle_re

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)
END_ROLE = "__end__"
# the tables a stream_kg_graph sink publishes per version
KG_STATE_TABLES = ("nodes", "edges", "mention_entity")

TRIPLE_STREAM_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("s1", IntegerType()),
        StructField("e1", IntegerType()),
        StructField("s2", IntegerType()),
        StructField("e2", IntegerType()),
        StructField("pred", StringType()),
        StructField("subj_type", StringType()),
        StructField("obj_type", StringType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("turn_idx", ArrayType(IntegerType())),
        StructField("texts", ArrayType(StringType())),
    ]
)


def read_transcript_stream(
    spark: SparkSession, input_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(input_dir)
    )


def stream_extract_foreach_batch(
    spark: SparkSession, input_dir: str, output_dir: str, cfg: PipelineConfig
):
    """Micro-batch extraction: each trigger runs the batch pipeline on the
    arriving (conversation-complete) rows and appends the results."""
    from .pipeline.runner import run_extraction

    stream = read_transcript_stream(spark, input_dir)

    def handle(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        out = run_extraction(spark, batch_df, cfg)
        out["mentions"].write.mode("append").parquet(f"{output_dir}/mentions")
        out["triples"].write.mode("append").parquet(f"{output_dir}/triples")

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{output_dir}/_stream_ck")
        .trigger(availableNow=True)
        .start()
    )


def _make_state_handler(cfg: PipelineConfig, orphan_timeout_ms: int):
    def handler(key, pdfs, state: GroupState):
        conv_id = key[0]
        if state.hasTimedOut:
            # Orphaned partial conversation: turns that arrived after their
            # end marker (contract violation) or a feed that never sent one.
            # Dropping bounds the state store; without the timeout the entry
            # leaked forever and its turns were silently never emitted
            # (round-1 ADVICE).
            state.remove()
            return iter(())
        turn_ids: list[int] = []
        texts: list[str] = []
        if state.exists:
            (prev_ids, prev_texts) = state.get
            turn_ids = list(prev_ids)
            texts = list(prev_texts)
        done = False
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                if r.role == END_ROLE:
                    done = True
                else:
                    turn_ids.append(int(r.turn_idx))
                    texts.append(r.text)
        if not done:
            state.update((turn_ids, texts))
            state.setTimeoutTimestamp(
                state.getCurrentProcessingTimeMs() + orphan_timeout_ms)
            return iter(())
        state.remove()
        order = sorted(range(len(turn_ids)), key=lambda i: turn_ids[i])
        ordered_texts = [texts[i] for i in order]
        ordered_ids = [turn_ids[i] for i in order]
        conv = {conv_id: ordered_texts}
        mentions, _raw = oracle_ner(conv, cfg)
        triples, _ref = oracle_re(conv, mentions, cfg)
        rows = [
            (conv_id, ordered_ids[t], s1, e1, s2, e2, pred, n1, n2)
            for _c, t, s1, e1, s2, e2, pred, _score, n1, n2 in triples
        ]
        return iter([pd.DataFrame(
            rows,
            columns=["conv_id", "turn_idx", "s1", "e1", "s2", "e2", "pred",
                     "subj_type", "obj_type"],
        )])

    return handler


def stream_extract_stateful(
    spark: SparkSession, input_dir: str, output_dir: str, cfg: PipelineConfig,
    orphan_timeout_ms: int = 600_000,
):
    """Stateful conversation assembly: turns buffer per conv_id until the
    end-marker arrives; the completed conversation then runs through the
    extraction kernels in one shot. Conversations may span micro-batches.

    Ordering contract: all of a conversation's turns must arrive in
    micro-batches at or before the one carrying its ``__end__`` marker
    (turn order *within* batches is free — state sorts by turn_idx).
    Turns arriving after the end marker re-create state that will never see
    another marker; such orphans are dropped once the stream has run
    ``orphan_timeout_ms`` of micro-batches past the conversation's last
    arrival, so the state store stays bounded.

    The timeout is an event-time timeout on the rows' ARRIVAL time (the
    micro-batch timestamp), watermarked with no delay. A processing-time
    timeout makes Spark ask for another no-data batch after every batch,
    so an ``availableNow`` query never ends; an event-time timeout asks
    only while the watermark moves, so the query ends once the input is
    drained. The watermark is on arrival, not on ``ts``: Spark drops rows
    older than the watermark before the state function sees them, and a
    feed interleaves conversations hours apart in ``ts``, whereas no row
    ever arrives before an earlier batch."""
    stream = read_transcript_stream(spark, input_dir).withColumn(
        "_arrival", F.current_timestamp()).withWatermark("_arrival", "0 seconds")
    extracted = stream.groupBy("conv_id").applyInPandasWithState(
        _make_state_handler(cfg, orphan_timeout_ms),
        outputStructType=TRIPLE_STREAM_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return (
        extracted.writeStream.format("parquet")
        .option("path", f"{output_dir}/triples")
        .option("checkpointLocation", f"{output_dir}/_stream_ck")
        .trigger(availableNow=True)
        .start()
    )


EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_event_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


def stream_windowed_counts(
    spark: SparkSession, in_dir: str, out_dir: str,
    window: str = "1 minute", within: str = "2 minutes",
):
    """Event-time tumbling-window aggregation with late-data handling —
    the canonical watermark + windowed-agg pattern over the events feed:
    per (window, user) counts and value sums, where rows arriving late
    but within the watermark horizon still land in their event-time
    window, and rows later than the horizon are dropped by the engine.
    Append mode emits each window exactly once, when the watermark passes
    its end — the contract downstream sinks want (no in-place updates).
    State is bounded by ``within`` regardless of stream length; at
    production rates this is the engine-managed replacement for the batch
    groupBy over event-time buckets."""
    ev = read_event_stream(spark, in_dir)
    agg = (
        ev.withWatermark("ts", within)
        .groupBy(F.window("ts", window), "user_id")
        .agg(F.count("*").cast("long").alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("window.start").alias("win_start"), "user_id",
                "n_events", "sum_value")
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", f"{out_dir}/windows")
        .option("checkpointLocation", f"{out_dir}/_ck")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_sessionize(
    spark: SparkSession, in_dir: str, out_dir: str,
    gap: str = "30 minutes", within: str = "2 minutes",
):
    """Streaming twin of the batch ``sessionize`` driver query: gap-based
    session windows per user via ``session_window`` — the engine merges
    events closer than ``gap`` into one growing window and finalizes a
    session once the watermark passes its end (last event + gap). Same
    inactivity semantics as the batch lag/cumsum form; the streaming test
    asserts the outputs agree on identical input. Session state is keyed
    by (user, open session) and evicted at finalization, so memory tracks
    the number of *open* sessions, not stream history."""
    ev = read_event_stream(spark, in_dir)
    agg = (
        ev.withWatermark("ts", within)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").cast("long").alias("n_events"),
             F.min("event_id").cast("long").alias("first_event"))
        .select(F.col("session_window.start").alias("sess_start"), "user_id",
                "n_events", "first_event")
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", f"{out_dir}/sessions")
        .option("checkpointLocation", f"{out_dir}/_ck")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_exact(
    spark: SparkSession, in_dir: str, out_dir: str, within: str = "1 hour",
):
    """Streaming exact dedup over a document feed (doc_id, text, ts):
    stateful ``dropDuplicatesWithinWatermark`` on the content hash — the
    engine's state store does the bookkeeping, and state is bounded by the
    watermark horizon, so at production rates memory scales with
    ``within``, never with corpus size. Duplicates farther apart than the
    horizon are the batch dedup job's responsibility
    (``textops``/`dedup_exact`) — the standard stream/batch split for
    dedup at 100 TB/day.

    File-source + availableNow trigger here (the sandbox harness); swap
    the reader for Kafka/Iceberg CDC unchanged."""
    docs = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    deduped = (
        docs.withColumn("content_hash", F.xxhash64("text"))
        .withWatermark("ts", within)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", f"{out_dir}/docs")
        .option("checkpointLocation", f"{out_dir}/_ck")
        .trigger(availableNow=True)
        .start()
    )


def stream_enrich(
    spark: SparkSession, in_dir: str, dim: DataFrame, out_dir: str,
):
    """Stream-static broadcast enrichment — the production pattern for
    attaching dimension attributes to a high-rate event feed: the static
    side is re-planned per micro-batch (file/table sources pick up dim
    updates between batches) and explicitly broadcast, so each batch is a
    map-side hash join with NO shuffle of the stream. A left join keeps
    events with no dim row (the segment coalesces to 'unknown') — dropping
    them silently would be the media_rejects anti-pattern. `dim` must be
    broadcast-sized (user/tenant/config dims); a stream-stream or bucketed
    join is the path for big-big.

    File source + availableNow here (sandbox harness); the join line is
    unchanged under Kafka."""
    from pyspark.sql.functions import broadcast

    ev = read_event_stream(spark, in_dir)
    enriched = (
        ev.join(broadcast(dim), "user_id", "left")
        .withColumn("segment", F.coalesce("segment", F.lit("unknown")))
    )
    return (
        enriched.writeStream.format("parquet")
        .option("path", f"{out_dir}/enriched")
        .option("checkpointLocation", f"{out_dir}/_ck")
        .trigger(availableNow=True)
        .start()
    )


def stream_click_attribution(
    spark: SparkSession, clicks_dir: str, purchases_dir: str, out_dir: str,
    lookback: str = "1 minute", within: str = "2 minutes",
):
    """Stream-STREAM interval join — the big-big case `stream_enrich`'s
    broadcast pattern can't cover: every purchase is attributed to the
    clicks the same user made within ``lookback`` before it, with BOTH
    sides unbounded streams; this is the online form of a batch
    event-time range join.

    The two contracts that make this safe at production rate:
    - watermarks on BOTH sides + the event-time range in the join
      condition let the engine evict buffered rows once they can no
      longer match (state is bounded by ``within`` + ``lookback``, never
      by stream length);
    - the join key includes the user equi-condition, so the state store
      is hash-partitioned on user and the match is a per-partition lookup,
      not a scan.

    Inner join: matches emit as soon as both sides arrive (append mode
    needs no watermark wait for inner); a click in one micro-batch joins
    a purchase arriving several batches later from the state store —
    pinned by the cross-batch case in tests. File source + availableNow
    (sandbox harness); the join line is unchanged under Kafka."""
    clicks = (
        spark.readStream.schema("click_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(clicks_dir)
        .select(F.col("click_id"), F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", within)
    )
    purchases = (
        spark.readStream.schema(
            "purchase_id long, user_id long, ts timestamp, amount double")
        .option("maxFilesPerTrigger", 1).parquet(purchases_dir)
        .select(F.col("purchase_id"), F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"), F.col("amount"))
        .withWatermark("p_ts", within)
    )
    joined = purchases.join(
        clicks,
        F.expr(f"c_user = p_user AND "
               f"c_ts BETWEEN p_ts - INTERVAL {lookback} AND p_ts"),
    ).select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id"),
        "amount",
        # µs gap, tz-invariant (driver/session tz unknown — see BENCH.md)
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    return (
        joined.writeStream.format("parquet")
        .option("path", f"{out_dir}/attributed")
        .option("checkpointLocation", f"{out_dir}/_ck")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _prune_state_versions(out_dir: str, retain: int) -> None:
    """Drop all but the newest ``retain`` ``state_v*`` dirs (the version
    suffix is the micro-batch id, monotone per checkpoint). ``retain=2``
    (current + previous) covers a reader that re-resolves the ``_LATEST``
    pointer per query — the contract ``read_upsert_state`` documents;
    raise it for readers that cache the pointer across batches (round-4
    ADVICE item #2: the window is now a knob, not a hard-coded pair)."""
    import os as _os
    import shutil as _sh

    vers = []
    for d in _os.listdir(out_dir):
        if d.startswith("state_v"):
            try:
                vers.append((int(d[len("state_v"):]), d))
            except ValueError:
                continue
    for _, d in sorted(vers)[:-retain]:
        _sh.rmtree(f"{out_dir}/{d}", ignore_errors=True)


def stream_upsert_latest(
    spark: SparkSession, in_dir: str, out_dir: str, retain: int = 2,
):
    """Keyed UPSERT sink (the CDC / `MERGE INTO` pattern): each micro-batch
    folds into a per-user latest-state table — the materialized "current
    value" view every event feed eventually needs (user profiles, device
    state, account balances). Latest wins by (ts, event_id) so replays and
    in-batch duplicates are deterministic.

    Per batch: (1) the batch collapses to one row per key FIRST (a
    batch-local agg — the merge join never sees intra-batch duplicates);
    (2) the current state reads, unions, and re-collapses; (3) the new
    state writes to a fresh versioned directory and a pointer file flips
    — last-writer-wins pointer swap, because plain parquet can't
    transactionally overwrite a path that is being read. On a real
    deployment steps 2-3 ARE `MERGE INTO target USING batch ON key` over
    Iceberg/Delta (snapshot isolation replaces the pointer dance, and the
    merge is a copy-on-write join pruned to the touched files); the
    foreachBatch body is the part that carries over unchanged.

    State size is O(distinct keys), never O(stream length). ``retain``
    bounds how many versioned state dirs survive pruning (see
    ``_prune_state_versions``)."""
    ev = read_event_stream(spark, in_dir)
    ptr = f"{out_dir}/_LATEST"

    def latest_per_key(df: DataFrame) -> DataFrame:
        best = F.max(F.struct("ts", "event_id", "event_type", "value")) \
            .alias("b")
        return df.groupBy("user_id").agg(best).select(
            "user_id", F.col("b.ts").alias("ts"),
            F.col("b.event_id").alias("event_id"),
            F.col("b.event_type").alias("event_type"),
            F.col("b.value").alias("value"),
        )

    def merge(batch_df: DataFrame, batch_id: int):
        import os as _os

        vdir = f"{out_dir}/state_v{batch_id}"
        prev = None
        if _os.path.exists(ptr):
            with open(ptr) as f:
                prev = f.read().strip()
            if prev == vdir:
                # crash-replay of an already-merged batch: the pointer
                # flip committed, so merging again would overwrite the
                # very path being read — idempotent skip instead
                return
        new = latest_per_key(batch_df)
        if prev:
            new = latest_per_key(spark.read.parquet(prev).unionByName(new))
        new.write.mode("overwrite").parquet(vdir)
        tmp = f"{ptr}.tmp"
        with open(tmp, "w") as f:
            f.write(vdir)
        _os.replace(tmp, ptr)  # atomic pointer flip
        _prune_state_versions(out_dir, retain)

    return (
        ev.writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{out_dir}/_ck")
        .trigger(availableNow=True)
        .start()
    )


def read_upsert_state(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the current state of a ``stream_upsert_latest`` sink (or any
    other sink that commits versioned state behind a ``_LATEST`` pointer).

    Re-call this per query rather than caching the returned DataFrame
    across later micro-batches: the ``_LATEST`` pointer is re-resolved
    here, and a state version only survives ``retain`` further batches
    (default 2) before pruning deletes its directory."""
    import os as _os

    ptr = f"{out_dir}/_LATEST"
    if not _os.path.exists(ptr):
        raise FileNotFoundError(
            f"no upsert state committed yet under {out_dir} "
            "(_LATEST pointer missing — has the stream run a batch?)")
    with open(ptr) as f:
        return spark.read.parquet(f.read().strip())


def stream_source_drift(
    spark: SparkSession, in_dir: str, out_dir: str, retain: int = 2,
):
    """Streaming corpus-drift monitor: the online form of the
    ``jsd_drift`` twin. Each micro-batch's (source, term) token counts
    sum-merge into the persisted state (the + algebra again), so any
    batch boundary can answer "how far apart are my sources NOW, over
    everything ingested so far" via ``drift_jsd_from_state`` — without
    re-reading history. State is vocab-sized per source (the same bound
    the batch query's self-join rides), NOT corpus-sized: the intake
    stream collapses into it. Same versioned-dir + atomic-pointer sink
    as the other streaming sketches (replay-idempotent, pruned to
    ``retain`` versions)."""
    docs = (
        spark.readStream.schema("doc_id long, text string, source string,"
                                " ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    ptr = f"{out_dir}/_LATEST"

    def merge(batch_df: DataFrame, batch_id: int):
        import os as _os

        vdir = f"{out_dir}/state_v{batch_id}"
        prev = None
        if _os.path.exists(ptr):
            with open(ptr) as f:
                prev = f.read().strip()
            if prev == vdir:
                return  # replay of an already-merged batch
        tf = (
            batch_df.select(
                "source", F.explode(F.split("text", " ")).alias("term"))
            .groupBy("source", "term")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        if prev:
            tf = (spark.read.parquet(prev).unionByName(tf)
                  .groupBy("source", "term")
                  .agg(F.sum("cnt").cast("long").alias("cnt")))
        tf.write.mode("overwrite").parquet(vdir)
        tmp = f"{ptr}.tmp"
        with open(tmp, "w") as f:
            f.write(vdir)
        _os.replace(tmp, ptr)
        _prune_state_versions(out_dir, retain)

    return (
        docs.writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{out_dir}/_ck")
        .trigger(availableNow=True)
        .start()
    )


def drift_jsd_from_state(state: DataFrame) -> DataFrame:
    """Pairwise Jensen–Shannon divergence from a ``stream_source_drift``
    state table (source, term, cnt) — the same shared-mass decomposition
    as the batch ``jsd_drift`` twin (terms private to one source
    contribute exactly ½·ln2·(1−shared_mass), so no anti-join): one
    term-keyed equi-self-join over the vocab-sized state."""
    tot = state.groupBy("source").agg(F.sum("cnt").alias("tot"))
    p = state.join(F.broadcast(tot), "source").select(
        "source", "term", (F.col("cnt") / F.col("tot")).alias("p"))
    a = p.select(F.col("source").alias("src_a"), "term",
                 F.col("p").alias("pa"))
    b = p.select(F.col("source").alias("src_b"), "term",
                 F.col("p").alias("pb"))
    both = a.join(b, "term").filter(F.col("src_a") < F.col("src_b"))
    contrib = (
        0.5 * F.col("pa") * F.log(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
        + 0.5 * F.col("pb") * F.log(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
    )
    ln2 = F.log(F.lit(2.0))
    return (
        both.groupBy("src_a", "src_b")
        .agg(F.sum(contrib).alias("jsd_both"),
             F.sum("pa").alias("sh_a"), F.sum("pb").alias("sh_b"),
             F.count("*").cast("long").alias("n_shared_terms"))
        .select(
            "src_a", "src_b", "n_shared_terms",
            F.round(F.col("jsd_both")
                    + 0.5 * ln2 * ((1 - F.col("sh_a")) + (1 - F.col("sh_b"))),
                    6).alias("jsd"),
        )
    )


def stream_minhash_neardup(
    spark: SparkSession, in_dir: str, out_dir: str,
    threshold: float = 0.5, retain: int = 2,
):
    """Streaming MinHash+LSH near-duplicate detector: each micro-batch of
    the document feed is banded (shingle → minhash → 4 LSH bands — the
    exact ``textops.minhash_candidates`` math the ``minhash_neardup``
    driver twin gates) and probed against the CUMULATIVE band index, so a
    new document is checked against every document ever seen, not just
    its own batch. Candidate pairs (band collisions with at least one new
    side) verify by exact shingle Jaccard and append to
    ``{out_dir}/pairs/batch_<id>``; over any batching, the union of
    emitted pairs equals the one-shot batch ``minhash_candidates`` on the
    concatenated corpus (tests/test_streaming.py) — band collision and
    Jaccard are both batching-invariant, and requiring a new side on
    every emitted pair makes each pair appear exactly once (in the batch
    that completes it).

    State: (1) the band index — 4 ids-only rows per document, the LSH
    index any dedup service keeps — in the same versioned-dir + atomic
    pointer sink as ``stream_upsert_latest`` (replay-idempotent, pruned
    to ``retain`` versions); (2) the shingle store
    ``{out_dir}/shingles/batch_<id>`` — an append-only restatement of the
    corpus that the verify step joins, batch-id-named and overwritten on
    replay so a crash-replay cannot double rows. At production scale the
    shingle store is the raw lake table re-read (or a bucketed keyed
    store); the band probe is an ids-only equi-join — salt hot bands via
    ``skew.salted_pair_join`` if a degenerate band key emerges.

    No reference counterpart (thunlp/PL-Marker has no dedup component);
    training-data-pipeline family per SURVEY.md §6."""
    from .textops import _banded_ids, minhash_signature, word_shingles
    from .phash import phash64

    docs = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    ptr = f"{out_dir}/_LATEST"

    def bands_of(df: DataFrame) -> DataFrame:
        hashed = df.select(
            F.col("doc_id").alias("id"),
            F.transform(word_shingles(F.col("text")),
                        lambda s: phash64(s, "sh", chars=8)).alias("hs"),
        )
        sigs = hashed.select("id", *minhash_signature(F.col("hs")))
        return _banded_ids(sigs)

    def merge(batch_df: DataFrame, batch_id: int):
        import os as _os

        vdir = f"{out_dir}/state_v{batch_id}"
        prev = None
        if _os.path.exists(ptr):
            with open(ptr) as f:
                prev = f.read().strip()
            if prev == vdir:
                return  # replay of an already-committed batch
        # 1. shingle store shard (batch-id-named overwrite = replay-safe)
        batch_df.select("doc_id", word_shingles(F.col("text")).alias("sh")) \
            .write.mode("overwrite") \
            .parquet(f"{out_dir}/shingles/batch_{batch_id}")
        # 2. probe: cumulative ∪ new bands ⋈ new bands — at least one new
        # side per pair, so a pair is emitted exactly once, by the batch
        # that completes it (old×old collisions were emitted earlier)
        new_bands = bands_of(batch_df).localCheckpoint()
        all_bands = (spark.read.parquet(prev).unionByName(new_bands)
                     if prev else new_bands)
        right = new_bands.select(F.col("id").alias("r_id"),
                                 F.col("band").alias("r_band"),
                                 F.col("bkey").alias("r_bkey"))
        cand = (
            all_bands.join(right, (F.col("band") == F.col("r_band"))
                           & (F.col("bkey") == F.col("r_bkey"))
                           & (F.col("id") != F.col("r_id")))
            .select(F.least("id", "r_id").alias("a_id"),
                    F.greatest("id", "r_id").alias("b_id"))
            .distinct()
        )
        # 3. verify on exact shingle Jaccard — two independent reads of
        # the shingle store (the Spark 4.1 same-instance self-join trap)
        store = f"{out_dir}/shingles/batch_*"
        sh_a = spark.read.parquet(store).select(
            F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
        sh_b = spark.read.parquet(store).select(
            F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
        jac = (F.size(F.array_intersect("a_sh", "b_sh"))
               / F.size(F.array_union("a_sh", "b_sh")))
        pairs = (
            cand.join(sh_a, "a_id").join(sh_b, "b_id")
            .select(F.col("a_id").alias("doc_a"),
                    F.col("b_id").alias("doc_b"),
                    F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
        pairs.write.mode("overwrite") \
            .parquet(f"{out_dir}/pairs/batch_{batch_id}")
        # 4. commit the cumulative band index + pointer flip + prune
        all_bands.write.mode("overwrite").parquet(vdir)
        tmp = f"{ptr}.tmp"
        with open(tmp, "w") as f:
            f.write(vdir)
        _os.replace(tmp, ptr)
        _prune_state_versions(out_dir, retain)

    return (
        docs.writeStream.foreachBatch(merge)
        .option("checkpointLocation", f"{out_dir}/_ck")
        .trigger(availableNow=True)
        .start()
    )


def read_neardup_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """All near-dup pairs a ``stream_minhash_neardup`` sink has emitted."""
    return spark.read.parquet(f"{out_dir}/pairs/batch_*")


def stream_kg_graph(
    spark: SparkSession, in_dir: str, out_dir: str, cfg: PipelineConfig,
    retain: int = 2,
):
    """Incremental KG construction — the streaming form of the whole
    north-rule pipeline. Each micro-batch of conversation-complete
    transcripts:

    1. runs the batch extraction ONCE on the arriving conversations
       (NER → RE is conversation-local, so corpus-scale work is strictly
       incremental — a conversation is never re-encoded); the store-less
       ``run_extraction`` pins its stages in memory, so the two evidence
       writes below read the pinned tables instead of each re-running the
       grouped-map kernels;
    2. appends its mention surfaces + triples to the evidence store
       (``{out_dir}/surfaces_b<id>`` / ``triples_b<id>``, batch-id-named
       overwrite = replay-idempotent, same contract as the minhash
       shingle store);
    3. re-canonicalizes from the CUMULATIVE evidence via
       ``graph_from_surfaces`` — linking/CC must see all surfaces because
       a newly arrived alias can merge two previously distinct entities
       (entity ids are min-sid component ids, so merges only ever lower
       an entity's id). The evidence globs are read with the schema just
       written (no schema-inference job). The cumulative vocabulary is
       size-gated: within the driver bound it is linked, componentized
       and canonicalized on the driver, and ``sim_edges`` /
       ``entity_assign`` / ``entity_vocab`` / ``nodes`` come back as
       ``LocalRelation`` tables, which ``pin`` leaves as they are; above
       it they are Spark plans. ``mention_entity`` and ``edges`` are
       Spark plans either way. The ``ck`` passed in writes
       nodes / edges / mention_entity straight into the versioned state
       dir ``{out_dir}/state_v<id>`` as those stages' own
       materialization (each is computed and written once; edges reads
       mention_entity back from there) and pins the Spark-plan others;
    4. publishes the version by the atomic ``_LATEST`` pointer flip and
       prunes old versions to ``retain``. A crash before the flip leaves
       the previous version published; the restarted query replays the
       uncommitted batch and overwrites its evidence and version dir
       (replay-idempotent). A crash after the flip, before Spark's commit
       log entry, replays a batch whose version is already published, so
       the handler returns without work.

    This is exactly how production incremental KG systems split the work:
    extraction streams (expensive, embarrassingly parallel, never redone),
    canonicalization is a vocab-scale job re-run per batch — the vocab
    table is orders of magnitude smaller than the transcript corpus, and
    the only evidence-scale operations in step 3 are one mention_entity
    join and one triple-endpoint resolution. At a vocab size where even
    that re-run hurts, the CC inside can switch to the delta fold
    (pipeline/cc.incremental_components — row-identical to the full
    recompute, gated by kg_cc_incremental): similarity edges between two
    OLD surfaces never change when new surfaces arrive, so the per-batch
    edge delta is exactly the new-surface-incident block join. After ANY batching, the
    published nodes/edges/mention_entity equal the one-shot batch
    pipeline over the concatenated corpus (tests/test_streaming.py gates
    all three tables).

    North-rule extension (streaming); no reference counterpart — the
    reference is a pure batch pipeline (SURVEY.md §2.6 end note)."""
    from .pipeline.graph import graph_from_surfaces, mention_surfaces, pin
    from .pipeline.runner import run_extraction

    stream = read_transcript_stream(spark, in_dir)
    ptr = f"{out_dir}/_LATEST"

    def handle(batch_df: DataFrame, batch_id: int):
        import os as _os

        if batch_df.isEmpty():
            return
        vdir = f"{out_dir}/state_v{batch_id}"
        prev = None
        if _os.path.exists(ptr):
            with open(ptr) as f:
                prev = f.read().strip()
            if prev == vdir:
                return  # replay of an already-committed batch
        # 1. extraction, once per arriving conversation: the store-less
        # run_extraction pins its stages, so neither write below re-runs it
        out = run_extraction(spark, batch_df, cfg)
        surfaces = mention_surfaces(out["mentions_refined"], out["turns_tok"])
        # 2. evidence append (batch-id-named overwrite = replay-safe), one
        # file per batch: every later batch re-reads the cumulative globs
        surfaces.coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/surfaces_b{batch_id}")
        out["triples"].coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/triples_b{batch_id}")
        # 3. vocab-scale re-canonicalization over cumulative evidence
        # (given the schema, the reads start no schema-inference job)
        all_surf = spark.read.schema(surfaces.schema).parquet(
            f"{out_dir}/surfaces_b*")
        all_trip = spark.read.schema(out["triples"].schema).parquet(
            f"{out_dir}/triples_b*")

        def publish(name, build):
            # the published tables' own materialization is the version-dir
            # write; the rest are pinned as graph_from_surfaces' default
            if name not in KG_STATE_TABLES:
                return pin(build())
            df = build()
            df.write.mode("overwrite").parquet(f"{vdir}/{name}")
            return spark.read.schema(df.schema).parquet(f"{vdir}/{name}")

        graph_from_surfaces(all_surf, all_trip, publish)
        tmp = f"{ptr}.tmp"
        with open(tmp, "w") as f:
            f.write(vdir)
        _os.replace(tmp, ptr)
        _prune_state_versions(out_dir, retain)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{out_dir}/_stream_ck")
        .trigger(availableNow=True)
        .start()
    )


def read_kg_state(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """The current KG tables a ``stream_kg_graph`` sink has published.
    Re-resolves the ``_LATEST`` pointer per call (the version window is
    ``retain`` batches — same caching contract as ``read_upsert_state``)."""
    ptr = f"{out_dir}/_LATEST"
    import os as _os

    if not _os.path.exists(ptr):
        raise FileNotFoundError(
            f"no published KG state under {out_dir} "
            "(_LATEST pointer missing — has the stream run a batch?)")
    with open(ptr) as f:
        vdir = f.read().strip()
    return {name: spark.read.parquet(f"{vdir}/{name}")
            for name in KG_STATE_TABLES}
