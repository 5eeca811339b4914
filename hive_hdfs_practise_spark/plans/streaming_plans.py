"""Genuine Structured Streaming plans run via Trigger.availableNow.

These execute a real streaming query (micro-batch engine, streaming
state, watermark) over the events parquet as a bounded stream and
return the sink table. Rows-only checks (the micro-batch engine's
semantics aren't ANSI-SQL-expressible per se) — but their BATCH
twins in plans/events.py are fully oracle-checked, and unit tests
assert stream == batch on complete data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import _EVENTS_RAW_SCHEMA, events_ts_micros, events_ts_unit
from ..streaming.heartbeat import liveness_transitions
from ..streaming.windows import run_available_now, tumbling_counts
from pyspark.sql import functions as F

from . import event_oracles as EO
from .registry import register


def _stage_stream_dir(sf_dir: str, table_name: str) -> str:
    """Directory a file-stream source can read ``table_name`` from.

    The source lists FILES under a directory (no recursion into
    subdirectories). Two layouts exist: a normal parquet output
    directory of part files (use it directly — the usual shape at
    scale), or the driver testdata's single bare ``<table>.parquet``
    FILE, which must be staged behind a /tmp symlink directory
    first. A symlinked subdirectory would NOT work — the source
    silently sees zero input files (caught by the 10x scaling study,
    where streams read empty input and the upsert sink never
    materialized). Stale links from a previous run pointing at a
    different path are replaced. Each table gets its own stage
    directory: the source reads every file in it."""
    import os

    target = f"{sf_dir}/{table_name}.parquet"
    if os.path.isdir(target):
        return target
    stage = (
        "/tmp/spark_graft_stream/"
        f"{os.path.basename(os.path.normpath(sf_dir))}_{table_name}"
    )
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/{table_name}.parquet"
    if os.path.islink(link) and os.readlink(link) != target:
        os.remove(link)
    if not os.path.exists(link):
        os.symlink(target, link)
    return stage


def _file_stream(spark: SparkSession, sf_dir: str, table_name: str) -> DataFrame:
    """``table_name`` as a bounded file stream. Events are read with
    the raw INT64 ``ts`` schema and converted like the batch reader in
    ``sources/catalog.py``; other tables take the batch file's schema."""
    src = _stage_stream_dir(sf_dir, table_name)
    if table_name == "events":
        raw = spark.readStream.schema(_EVENTS_RAW_SCHEMA).parquet(src)
        return raw.withColumn(
            "ts", F.timestamp_micros(events_ts_micros(events_ts_unit(sf_dir)))
        )
    schema = spark.read.parquet(f"{sf_dir}/{table_name}.parquet").schema
    return spark.readStream.schema(schema).parquet(src)


@register("stream_hourly_tumbling", oracle=EO.HOURLY_TUMBLING)
def stream_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events_hourly_tumbling plan executed BY THE STREAMING
    ENGINE: readStream → watermark → window agg → availableNow →
    memory sink. On bounded input this must equal the batch twin
    (asserted in tests/test_streaming.py)."""
    stream = _file_stream(spark, sf_dir, "events")
    out = tumbling_counts(stream, "1 hour", "2 hours")
    return run_available_now(out, "stream_hourly_tumbling", "complete").select(
        "window_start", "event_type", "n_events", "total_value"
    )


_LIVENESS_ORACLE = """
    WITH b AS (
        SELECT CAST(user_id AS VARCHAR) AS node,
               CAST(ts AS TIMESTAMP) AS event_ts
        FROM events
    ),
    agg AS (
        SELECT node, max(event_ts) AS last_ts, count(*) AS n_beats
        FROM b GROUP BY node
    ),
    wm AS (SELECT epoch_ms(max(event_ts)) - 1000 AS wm_ms FROM b)
    SELECT node, 'Alive' AS status, last_ts, n_beats FROM agg
    UNION ALL
    SELECT node, 'Dead' AS status, last_ts, n_beats
    FROM agg, wm
    WHERE wm_ms > epoch_ms(last_ts) + 259200000
    """


@register("stream_liveness_transitions", oracle=_LIVENESS_ORACLE)
def stream_liveness_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H8 as a real stateful stream: applyInPandasWithState over
    per-node heartbeats (node ≙ user_id), emitting Alive/Dead
    transitions. Event-time timeouts (72 h, matching the batch twin
    heartbeat_liveness) — deterministic on bounded input, which is
    what lets even this stateful stream carry a value-checking
    oracle: the single availableNow batch emits every node's
    initial Alive with its full totals, then the final watermark
    (max event time − 1 s delay, ms precision) fires Dead for nodes
    whose last beat is more than 72 h older — exactly the UNION the
    oracle states. (Multi-file sources stay single-batch under the
    default maxFilesPerTrigger=1000; a >1000-file directory would
    split batches and partial Alive counts would differ.)"""
    stream = _file_stream(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("node"), F.col("ts").alias("event_ts")
    )
    out = liveness_transitions(stream, timeout_ms=72 * 3600 * 1000)
    return run_available_now(out, "stream_liveness_transitions", "append")


@register("stream_dedup_keys", oracle=EO.DEDUP_KEYS)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicates over a key set keeps
    the first arrival per key across micro-batches (state-backed).
    Output is the KEY COLUMNS ONLY so the result is deterministic on
    bounded input (which physical row arrives first is not); equals
    the batch distinct of the same keys — asserted in tests."""
    stream = _file_stream(spark, sf_dir, "events").select("user_id", "event_type")
    out = stream.dropDuplicates(["user_id", "event_type"])
    return run_available_now(out, "stream_dedup_keys", "append")


@register("stream_click_purchase_join", oracle=EO.CLICK_PURCHASE_JOIN)
def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time join (purchases within 1h after a
    click, per user) with watermarks on both sides — the state-
    bounded streaming form of events_click_purchase_join. On bounded
    input the result set equals the batch twin (asserted in tests).
    """
    ev = _file_stream(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            "value",
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.round("value", 2).alias("purchase_value"),
    )
    return run_available_now(joined, "stream_click_purchase_join", "append")


@register("stream_enriched_nation", oracle=EO.ENRICHED_NATION)
def stream_enriched_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the unbounded event stream enriched
    against static dimension tables — stateless, append-mode, no
    watermark needed for an inner stream-static join. nation keeps a
    broadcast hint (25 rows); customer scales with SF so its join
    strategy is left to Catalyst per micro-batch (auto-broadcast
    under the threshold, shuffle beyond). On bounded input equals
    the batch twin events_enriched_nation (asserted in tests)."""
    from ..sources.catalog import table

    ev = _file_stream(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        ev.join(c, ev.user_id == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "event_id",
            "user_id",
            F.col("n_name").alias("nation"),
            "event_type",
            F.round("value", 2).alias("value"),
        )
    )
    return run_available_now(joined, "stream_enriched_nation", "append")


@register("stream_upsert_latest", oracle=EO.DEDUP_LATEST)
def stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE sink: every micro-batch upserts into a
    parquet state table (keep-latest per (user_id, event_type),
    version (ts, event_id)) via the batch upsert operator — the
    pattern that gives a streaming query access to the whole batch
    operator library, and effectively-exactly-once state on replay
    (idempotent merge). Final state equals the oracle-checked batch
    twin events_dedup_latest (asserted in tests, including a forced
    multi-batch run)."""
    import tempfile

    from ..streaming.sinks import run_upsert_stream

    work = tempfile.mkdtemp(prefix="stream_upsert_")
    stream = _file_stream(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    run_upsert_stream(stream, f"{work}/state", f"{work}/ckpt")
    return spark.read.parquet(f"{work}/state").select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.round("value", 2).alias("value"),
    )


_SESSION_WINDOWS_ORACLE = """
    WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTES AS session_end,
           user_id,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """


@register("stream_session_windows", oracle=_SESSION_WINDOWS_ORACLE)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGINE-NATIVE session windows: ``F.session_window(ts, gap)``
    run by the streaming engine (state-backed window merging), the
    streaming-native form of events_sessionize's gaps-and-islands
    batch idiom. Two intervals [t, t+gap) merge iff the later starts
    STRICTLY inside the earlier, so a gap of exactly ``gap`` starts a
    new session — the oracle's island flag uses ``>=`` accordingly
    (where the batch twin's own output uses ``>``; the two agree
    whenever no gap is exactly 30:00.000000, which the value check
    confirms on this data). session_end = last event + gap, Spark's
    definition. Complete mode on bounded input — equals the batch
    restatement (also asserted in tests)."""
    from ..streaming.windows import session_aggregate

    stream = _file_stream(spark, sf_dir, "events")
    out = session_aggregate(stream, "30 minutes", "2 hours")
    return run_available_now(out, "stream_session_windows", "complete").select(
        "session_start", "session_end", "user_id", "n_events"
    )


_SLIDING_RATE_ORACLE = """
    WITH ev AS (
        SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ), slots AS (
        SELECT event_type,
               ((us // 1000000) // 900) * 900 - k.k * 900 AS ws_s,
               us
        FROM ev, unnest(generate_series(0, 3)) AS k(k)
    )
    SELECT epoch_ms(ws_s * 1000) AS window_start,
           event_type,
           count(*) AS n_events
    FROM slots
    WHERE us >= ws_s * 1000000 AND us < (ws_s + 3600) * 1000000
    GROUP BY 1, 2
    """


@register("stream_sliding_rate", oracle=_SLIDING_RATE_ORACLE)
def stream_sliding_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGINE-NATIVE sliding windows: ``F.window(ts, '1 hour',
    '15 minutes')`` by the streaming engine — each event lands in 4
    overlapping windows (state per open window, expired by the
    watermark). The oracle restates the window-assignment arithmetic
    exactly: window starts are the 4 slide-aligned slots in
    (ts − 1h, ts], computed in integer µs the same way Spark's
    window expression aligns (floor to the slide modulus), so the
    per-(window, type) counts are value-checked, not rows-only.
    Complete mode on bounded input."""
    from ..streaming.windows import sliding_rate

    stream = _file_stream(spark, sf_dir, "events")
    out = sliding_rate(stream, "1 hour", "15 minutes", "2 hours")
    return run_available_now(out, "stream_sliding_rate", "complete").select(
        "window_start", "event_type", "n_events"
    )


@register("stream_pattern_browse_buy", oracle=EO.PATTERN_BROWSE_BUY)
def stream_pattern_browse_buy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern recognition AS A STATEFUL STREAM: the
    click (view)* purchase automaton of events_pattern_browse_buy
    run per user through applyInPandasWithState (state = pending
    click + integer micro-unit view accumulators; see
    streaming/patterns.py). On the bounded single-batch availableNow
    run this equals the batch twin row for row, so it carries the
    SAME value-checking oracle; stream-vs-batch equality is also
    asserted directly in tests (incl. a forced multi-trigger split
    at a time boundary, exercising state carried across batches)."""
    from ..streaming.patterns import browse_buy_matches

    stream = _file_stream(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    out = browse_buy_matches(stream)
    return run_available_now(out, "stream_pattern_browse_buy", "append")


def _stream_url_dedup_oracle() -> str:
    from ..functions.urls import url_canon_ctes

    return f"""
    WITH {url_canon_ctes("documents")}
    SELECT DISTINCT canonical_url FROM keys
    """


@register("stream_url_dedup", oracle=_stream_url_dedup_oracle())
def stream_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING URL dedup: the documents_url_dedup canonicalizer
    applied per micro-batch, with state-backed dropDuplicates on the
    canonical key — the ingestion-time form of the batch metadata
    dedup (a crawler dedupes arriving URLs BEFORE storing/fetching;
    state = one row per distinct canonical key). Output is the KEY
    COLUMN ONLY (the stream_dedup_keys precedent: which physical doc
    arrives first per key is not deterministic, the key set is), so
    on bounded input the result is value-checked against the same
    canonicalizer CTE chain the batch twin's oracle uses
    (functions/urls.py — shared verbatim, the two cannot drift)."""
    from ..functions.urls import canonical_urls, synth_url_col

    stream = _file_stream(spark, sf_dir, "documents").select("doc_id", "source")
    keys = canonical_urls(stream.select("doc_id", synth_url_col().alias("url")))
    out = keys.select("canonical_url").dropDuplicates(["canonical_url"])
    return run_available_now(out, "stream_url_dedup", "append")


def _stream_kmv_oracle() -> str:
    from .distinct import KMV_K, _kmv_hash_sql

    h = _kmv_hash_sql("user_id")
    return f"""
    WITH h AS (
        SELECT DISTINCT event_type, {h} AS hv FROM events
    ),
    ranked AS (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_distinct
        FROM h
    )
    SELECT event_type,
           round(CASE WHEN n_distinct >= {KMV_K}
                      THEN ({KMV_K} - 1)
                           / max(CASE WHEN rn = {KMV_K} THEN hv END)
                      ELSE CAST(n_distinct AS DOUBLE) END, 4) AS n_kmv
    FROM ranked
    GROUP BY event_type, n_distinct
    """


@register("stream_kmv_distinct_users", oracle=_stream_kmv_oracle())
def stream_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING KMV sketch: distinct users per event type with
    K-doubles-per-key state merged across micro-batches
    (``streaming/kmv_stream.py``) — the mergeable-sketch property
    run live, and the 12th value-checked stream twin. The hash is
    the batch twin's JVM md5 expression (stateless streaming
    select); the state function emits running snapshots and the LAST
    one per key wins downstream of the sink (max_by on the update
    counter); estimate arithmetic + 4dp rounding happen in ENGINE
    expressions (python round is half-even). Equals the batch
    events_kmv_distinct_users estimate on bounded input — min-K of a
    union IS the min-K of merged min-K states, and a merged set
    smaller than K is the exact distinct set — so the oracle is the
    batch restatement minus its exact-count column."""
    from ..streaming.kmv_stream import kmv_running_state
    from .distinct import KMV_K, _KMV_H

    stream = _file_stream(spark, sf_dir, "events").select(
        "event_type", F.expr(_KMV_H.replace("VARCHAR", "STRING")).alias("hv")
    )
    snaps = kmv_running_state(stream, KMV_K)
    sunk = run_available_now(snaps, "stream_kmv_distinct_users", "append")
    last = sunk.groupBy("event_type").agg(
        F.max_by(F.struct("n_state", "hk"), F.col("upd")).alias("s")
    )
    est = F.when(
        F.col("s.n_state") >= KMV_K, (KMV_K - 1) / F.col("s.hk")
    ).otherwise(F.col("s.n_state").cast("double"))
    return last.select("event_type", F.round(est, 4).alias("n_kmv"))


def _stream_minhash_oracle() -> str:
    from .dedup import _minhash_lsh_oracle

    return _minhash_lsh_oracle()


@register("stream_dedup_minhash", oracle=_stream_minhash_oracle())
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash-LSH near-dup screen — the 11th value-checked
    stream twin: bucket state held across micro-batches under
    (band, band_key-shard) state groups (see
    ``streaming/minhash_stream.py`` for the full shape: numpy
    md5-family signatures per batch, applyInPandasWithState bucket
    collisions with the batch agreement prefilter; the shard keying
    bounds the Python group-dispatch count — r13). The sink stream
    is the CANDIDATE alert stream (duplicates across bands possible,
    exactly like the batch pipeline pre-distinct); downstream the
    candidates dedupe and exact-Jaccard-verify against the static
    corpus through the SAME ``exact_jaccard_pairs`` the batch twin
    uses, so on bounded input the result EQUALS dedup_minhash_lsh
    (asserted in tests incl. a forced multi-trigger split) and
    carries the same full-restatement oracle (the stream pins the
    md5 verification family at every scale)."""
    from ..sources.catalog import table
    from ..streaming.minhash_stream import minhash_candidates
    from .dedup import exact_jaccard_pairs

    stream = _file_stream(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_candidates(stream)
    sunk = run_available_now(pairs, "stream_dedup_minhash", "append")
    cand = sunk.select("doc_a", "doc_b").distinct()
    docs = table(spark, sf_dir, "documents")
    return exact_jaccard_pairs(cand, docs)


def _stream_cascade_oracle() -> str:
    from .text import _filter_cascade_oracle

    return _filter_cascade_oracle()


@register("stream_filter_cascade", oracle=_stream_cascade_oracle())
def stream_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quality-filter funnel — the 13th value-checked
    stream twin: documents_filter_cascade's first-fail attribution
    run as arriving docs are scored. Every scorer is a PER-ROW
    column expression (stateless per micro-batch — the column forms
    of quality/langid from functions/text.py produce the exact
    values of the batch explode path, and the repetition stats
    compute per-doc: dup-line fraction from the line array, and the
    top-bigram count as a max-run-length FOLD over the SORTED bigram
    array — linear per doc, no quadratic element-counting lambda).
    The only stateful operator is ONE global integer-count
    aggregation (complete mode), whose cross-batch merge is exact by
    integer addition, so on bounded input the funnel EQUALS the
    batch twin and carries the SAME oracle. This is the shape an
    ingestion pipeline actually deploys: score-at-arrival, one
    running funnel row, no corpus state."""
    from ..functions import text as tx
    from .text import (
        CASCADE_MAX_DUP_LINE,
        CASCADE_MAX_TOP_BIGRAM,
        CASCADE_MIN_QUALITY,
        _cascade_funnel,
    )

    stream = _file_stream(spark, sf_dir, "documents").select("doc_id", "text")
    agg = cascade_flag_counts(stream)
    sunk = run_available_now(agg, "stream_filter_cascade", "complete")
    return _cascade_funnel(spark, sunk)


def cascade_flag_counts(stream: DataFrame) -> DataFrame:
    """Per-row first-fail flags + the single global count aggregate
    over a (doc_id, text) stream — the whole stateful surface of
    stream_filter_cascade, factored so the multi-trigger test can
    drive it on a custom 2-file source."""
    from ..functions import text as tx
    from .text import (
        CASCADE_MAX_DUP_LINE,
        CASCADE_MAX_TOP_BIGRAM,
        CASCADE_MIN_QUALITY,
    )

    quality = tx.quality_score(F.col("text"))
    lang_pred = tx.lang_id(F.col("text"))
    lines = F.filter(
        F.split(F.col("text"), "\n"), lambda ln: ln != F.lit("")
    )
    n_lines = F.size(lines)
    n_uniq = F.size(F.array_distinct(lines))
    dup_line_frac = F.round(
        F.when(
            n_lines > 0, 1.0 - n_uniq.cast("double") / n_lines
        ).otherwise(F.lit(0.0)),
        6,
    )
    toks = tx.tokens(F.col("text"))
    n_big = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n_big),
        F.slice(toks, 2, n_big),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    # mode count without a per-element count lambda: sort, then one
    # linear fold tracking (prev, current run, best run). Tokens are
    # \S+ so no bigram equals the "" sentinel.
    run = F.aggregate(
        F.array_sort(bigrams),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
    )
    tot = F.size(bigrams)
    top_bigram_share = F.round(
        F.when(tot > 0, run["best"].cast("double") / tot).otherwise(
            F.lit(0.0)
        ),
        6,
    )
    d1 = F.when(lang_pred == "und", 1).otherwise(0)
    d2 = F.when(
        (lang_pred != "und") & (quality < CASCADE_MIN_QUALITY), 1
    ).otherwise(0)
    d3 = F.when(
        (lang_pred != "und")
        & (quality >= CASCADE_MIN_QUALITY)
        & (
            (top_bigram_share > CASCADE_MAX_TOP_BIGRAM)
            | (dup_line_frac > CASCADE_MAX_DUP_LINE)
        ),
        1,
    ).otherwise(0)
    return stream.select(
        d1.alias("d1"), d2.alias("d2"), d3.alias("d3")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d1").alias("n1"),
        F.sum("d2").alias("n2"),
        F.sum("d3").alias("n3"),
    )


@register("stream_transition_matrix", oracle=EO.TRANSITION_MATRIX)
def stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix AS A STATEFUL STREAM
    (14th twin): per-user last-event state chains consecutive events
    across micro-batches (streaming/transitions.py), so the batch
    twin's lead() window becomes an O(1)-state online operator — the
    shape a clickstream pipeline runs at ingestion instead of
    re-sorting history every refresh. The emitted pair stream sinks
    via availableNow; counting and row-normalizing the ≤|types|²
    pairs happens on the sunk result (driver-scale), keeping the
    SAME value-checking oracle as the batch twin. Stream == batch
    equality incl. a forced multi-trigger split INSIDE a known
    transition is asserted in tests."""
    from pyspark.sql.window import Window

    from ..streaming.transitions import transition_pairs

    stream = _file_stream(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    pairs = transition_pairs(stream)
    sunk = run_available_now(pairs, "stream_transition_matrix", "append")
    c = sunk.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wt = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wt), 6).alias(
            "p"
        ),
    )


def _stream_gopher_oracle() -> str:
    from .text import _gopher_oracle

    rules = [
        "r_word_count",
        "r_mean_word_len",
        "r_symbol_ratio",
        "r_bullet_lines",
        "r_ellipsis_lines",
        "r_alpha_words",
        "r_stopwords",
    ]
    sums = ",\n           ".join(
        f"CAST(sum(CASE WHEN {r} THEN 0 ELSE 1 END) AS BIGINT)"
        f" AS n_fail_{r[2:]}"
        for r in rules
    )
    return f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           {sums},
           CAST(sum(CASE WHEN n_failed = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass_all
    FROM ({_gopher_oracle()})
    """


@register("stream_gopher_rules", oracle=_stream_gopher_oracle())
def stream_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Gopher-rule monitor — the 15th value-checked stream
    twin: per-rule failure counts over arriving documents, the
    one-row quality dashboard an ingestion pipeline keeps live. Every
    rule flag is the SAME stateless per-row column expression as the
    batch twin (shared ``gopher_flags`` — the twins cannot drift);
    the only stateful operator is one global integer-sum aggregate
    (complete mode), exact across micro-batches by integer addition,
    so on bounded input the counts EQUAL an aggregate over
    documents_gopher_rules — which is exactly what the oracle
    restates."""
    stream = _file_stream(spark, sf_dir, "documents").select("doc_id", "text")
    agg = gopher_rule_counts(stream)
    return run_available_now(agg, "stream_gopher_rules", "complete")


def gopher_rule_counts(stream: DataFrame) -> DataFrame:
    """Per-row gopher flags + the single global count aggregate over
    a (doc_id, text) stream — the whole stateful surface of
    stream_gopher_rules, factored so the multi-trigger test can
    drive it on a custom 2-file source (the cascade_flag_counts
    precedent)."""
    from .text import gopher_flags

    flags = gopher_flags(stream)
    fail = [
        ("r_word_count", "n_fail_word_count"),
        ("r_mean_word_len", "n_fail_mean_word_len"),
        ("r_symbol_ratio", "n_fail_symbol_ratio"),
        ("r_bullet_lines", "n_fail_bullet_lines"),
        ("r_ellipsis_lines", "n_fail_ellipsis_lines"),
        ("r_alpha_words", "n_fail_alpha_words"),
        ("r_stopwords", "n_fail_stopwords"),
    ]
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[
            F.sum(F.when(F.col(r), 0).otherwise(1))
            .cast("bigint")
            .alias(out)
            for r, out in fail
        ],
        F.sum(F.when(F.col("n_failed") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pass_all"),
    )


def _stream_ivf_assign_oracle() -> str:
    from ..similarity.knn import kmeans_unrolled_cte
    from .similarity import IVF_ITERS, IVF_NLIST

    return (
        kmeans_unrolled_cte(IVF_NLIST, IVF_ITERS)
        + """
    SELECT CAST(cid AS INT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM af GROUP BY cid
    """
    )


@register("stream_ivf_assign", oracle=_stream_ivf_assign_oracle())
def stream_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING vector ingestion — the 16th value-checked stream
    twin, and the arrival half of the IVF service loop
    (knn_ivf_index_append is the storage half): arriving vectors are
    assigned to the FROZEN coarse quantizer per row (the centroid
    table collects at plan time — nlist tiny rows — and becomes a
    literal argmin expression, so assignment is STATELESS; min of an
    array<struct<dist, cid>> picks by (squared distance, cid),
    exactly the oracle's ordering), and the only stateful operator
    is the per-cell running count (complete mode, exact integer
    merge). On bounded input the counts equal the unrolled-k-means
    assignment — the oracle. Quantizer collects at plan time:
    BUILD_EXECUTES."""
    agg = ivf_assign_counts(
        _file_stream(spark, sf_dir, "embeddings"), spark, sf_dir
    )
    return run_available_now(agg, "stream_ivf_assign", "complete")


def ivf_assign_counts(
    stream: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-row frozen-centroid assignment + the per-cell count
    aggregate over an embeddings stream — the whole stateful surface
    of stream_ivf_assign, factored so the multi-trigger test can
    drive it on a custom 2-file source."""
    from ..functions import vectors as vec
    from ..similarity.knn import kmeans_centroids
    from ..sources.catalog import wide_table
    from .similarity import IVF_ITERS, IVF_NLIST

    e = wide_table(spark, sf_dir, "embeddings")
    cents = sorted(
        (r.cluster_id, list(r.centroid))
        for r in kmeans_centroids(e, IVF_NLIST, IVF_ITERS).collect()
    )
    v = vec.as_double(F.col("embedding"))

    def sqdist(arr):
        lit = F.array(*[F.lit(float(x)) for x in arr])
        return F.aggregate(
            F.zip_with(v, lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    pick = F.array_min(
        F.array(
            *[
                F.struct(
                    sqdist(arr).alias("d"),
                    F.lit(cid).cast("int").alias("cid"),
                )
                for cid, arr in cents
            ]
        )
    )["cid"]
    return (
        stream.select(pick.alias("cluster_id"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    )


def _stream_decon_oracle() -> str:
    from .sampling_plans import _bloom_decon_oracle

    return _bloom_decon_oracle()


@register("stream_decontamination_bloom", oracle=_stream_decon_oracle())
def stream_decontamination_bloom(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING decontamination — the 17th value-checked stream
    twin, and the PRODUCTION regime of the Bloom screen (the r10
    verdict's item 6): the benchmark/test split is small and FIXED,
    so its n-gram Bloom filter builds ONCE batch-side (checkpointed,
    ≤128 KB of int64 words) while TRAIN documents ARRIVE as a stream
    and are probed per row. Every per-row expression — split
    labelling, distinct 8-grams, md5 slices, the 4 broadcast
    word-joins + bit tests — is the batch twin's own code
    (shared decon_grams_of / bloom_filter_words /
    bloom_probe_counts, the shared-scorer rule), all STATELESS
    stream-static operations; the only stateful operator is the
    per-doc flagged-gram count (complete mode, exact integer merge
    across micro-batches). On bounded input the output equals
    split_decontamination_bloom — which is exactly what the oracle
    restates. Filter checkpoint at plan time: BUILD_EXECUTES."""
    from ..sources.catalog import wide_table
    from .sampling_plans import bloom_filter_words

    filt = bloom_filter_words(wide_table(spark, sf_dir, "documents"))
    agg = bloom_decon_counts(_file_stream(spark, sf_dir, "documents"), filt)
    return run_available_now(
        agg, "stream_decontamination_bloom", "complete"
    )


def bloom_decon_counts(stream: DataFrame, filt: DataFrame) -> DataFrame:
    """Train-gram Bloom probe over a (doc_id, text, ...) document
    stream against the STATIC filter words — the whole stateful
    surface of stream_decontamination_bloom, factored so the
    multi-trigger test can drive it on a custom 2-file source."""
    from .sampling_plans import bloom_probe_counts, decon_grams_of

    # a single-file micro-batch is ONE partition and would serialize
    # the whole gram explode + probe (the stream_dedup_minhash
    # lesson); spread the arriving docs before the per-row work.
    # Measured at the 40x corpus: 129 -> 11.9 s.
    sh, _ = decon_grams_of(stream.repartition(32))
    tr = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), F.md5(F.col("g")).alias("h")
    )
    return bloom_probe_counts(tr, filt)


@register("stream_rate_cusum", oracle=EO.RATE_CUSUM)
def stream_rate_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CUSUM burst monitor — the 18th value-checked stream
    twin, and the production regime of events_rate_cusum (a burst
    detector exists to run on ARRIVING events): hour buckets are a
    stateless engine expression; applyInPandasWithState per
    event_type walks the dense hour chain with integer (cs, prefix
    min) state, decaying through empty hours exactly like the batch
    grid and emitting detections as hours complete; the TRAILING
    empty hours through the global grid end extend engine-side from
    each type's last state snapshot (closed form — trailing cs
    decreases linearly; the post-sink-batch-transform idiom of
    stream_transition_matrix). Grid bounds collect at plan time
    (bounded-twin semantics, the frozen-centroid precedent):
    BUILD_EXECUTES. All state arithmetic is Python ints == engine
    integers, so on bounded input the detections EQUAL
    events_rate_cusum — the shared EO.RATE_CUSUM oracle."""
    from ..sources.catalog import table
    from ..streaming.cusum_stream import cusum_running_state
    from .events import CUSUM_H, CUSUM_K

    eh_of = "CAST(unix_seconds(date_trunc('hour', ts)) div 3600 AS LONG)"
    ev = table(spark, sf_dir, "events")
    b = ev.agg(
        F.expr(f"min({eh_of})").alias("h0"),
        F.expr(f"max({eh_of})").alias("h1"),
    ).collect()[0]
    if b.h0 is None:
        raise ValueError(
            "stream_rate_cusum: events table is empty — no hour grid"
        )
    h0, h1 = int(b.h0), int(b.h1)
    stream = _file_stream(spark, sf_dir, "events").select(
        "event_type", F.expr(eh_of).alias("eh")
    )
    out = cusum_running_state(stream, h0, CUSUM_K, CUSUM_H)
    sunk = run_available_now(out, "stream_rate_cusum", "append")
    return cusum_finalize(sunk, h1, CUSUM_K, CUSUM_H)


def cusum_finalize(
    sunk: DataFrame, h1: int, k: int, thresh: int
) -> DataFrame:
    """Post-sink batch transform: detections from the stream rows +
    the closure of each type's OPEN hour and the trailing-empty-hour
    extension, from the LAST state snapshot (eh carries open_h, n
    carries cs, cusum carries mn, pend the open hour's count — the
    documented snapshot column reuse). Only the open hour adds pend,
    so cs_j = cs + pend − k·(j − open_h + 1) for every j ≥ open_h,
    strictly decreasing after the first trailing value — the prefix
    minimum at j is least(mn, cs_j): one integer expression per
    hour, no recursion."""
    hour = F.timestamp_seconds(F.col("j") * 3600)
    det = sunk.where(~F.col("is_state")).select(
        "event_type",
        F.timestamp_seconds(F.col("eh") * 3600).alias("hour"),
        F.col("n").cast("bigint").alias("n_events"),
        F.col("cusum").cast("bigint").alias("cusum"),
    )
    last = (
        sunk.where(F.col("is_state"))
        .groupBy("event_type")
        .agg(
            F.max_by(
                F.struct("eh", "n", "cusum", "pend"), F.col("upd")
            ).alias("s")
        )
    )
    cs_j = (
        F.col("s.n")
        + F.col("s.pend")
        - k * (F.col("j") - F.col("s.eh") + 1)
    )
    cusum_j = cs_j - F.least(F.least(F.col("s.cusum"), cs_j), F.lit(0))
    trail = (
        last.select(
            "event_type",
            "s",
            F.explode(
                F.when(
                    F.col("s.eh") <= h1,
                    F.sequence(F.col("s.eh"), F.lit(h1).cast("long")),
                ).otherwise(F.array().cast("array<long>"))
            ).alias("j"),
        )
        .select(
            "event_type",
            hour.alias("hour"),
            F.when(F.col("j") == F.col("s.eh"), F.col("s.pend"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("n_events"),
            cusum_j.cast("bigint").alias("cusum"),
        )
        .where(F.col("cusum") > thresh)
    )
    return det.unionByName(trail)


def _stream_index_append_oracle() -> str:
    from .dedup import _minhash_lsh_oracle

    return _minhash_lsh_oracle()


@register(
    "stream_minhash_index_append", oracle=_stream_index_append_oracle()
)
def stream_minhash_index_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming index INGESTION — the 19th value-checked stream twin
    and the production incremental-index regime the batch maintenance
    query (dedup_minhash_index_append) certifies one batch of: the
    corpus shard's band index is built batch-side; the delta shard
    then ARRIVES AS A STREAM and every micro-batch appends its
    signatures + band rows to the materialized index through
    ``foreachBatch`` → the SAME JVM ``append_minhash_index`` path
    (bucketed appends add per-bucket files, never rewrite existing
    ones — byte-stability of pre-existing files pinned in
    test_streaming). After the bounded stream drains, the probe runs
    the full indexed pipeline: because signatures/band rows are
    per-doc deterministic, the streamed-in index equals the
    from-scratch build row for row, so the output carries the SAME
    full-restatement oracle as the batch family (value-checked, not
    rows-only) — a green row certifies the index the STREAM built.
    Micro-batch split invariance (maxFilesPerTrigger=1) is pinned in
    tests. Exactly-once note: a replayed batch would append duplicate
    band/sig rows; duplicates only duplicate candidate pairs, which
    the probe's distinct absorbs — the LSM answer is the same
    rebuild/vacuum that reclaims tombstones, and a deployment keyed
    on batch_id (exposed by foreachBatch) can skip replays outright.
    Runs the stream + index writes at plan time: BUILD_EXECUTES."""
    from ..dedup import minhash as mh
    from ..streaming.windows import run_foreach_batch
    from .dedup import _indexed_pairs, _probe_delta_col

    kw = dict(downsample=4, family=mh.minhash_family(sf_dir))
    # wide_table, not table: the corpus can arrive as ONE part file,
    # and signature building is exactly the compute-dense per-row
    # work the round-robin spread exists for (a 40× build measured
    # 264 s single-partition vs ~23 s spread — the same trap the
    # stream side's repartition(32) guards)
    from ..sources.catalog import wide_table

    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(~_probe_delta_col())
    mh.write_minhash_index(spark, corpus, "minhash_stream_idx", **kw)

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # a single-file micro-batch is ONE partition, which would run
        # the whole signature aggregate on one core (the
        # stream_dedup_minhash / decontamination_bloom class — this
        # twin measured 284 s vs 23 s at 40× before the spread)
        mh.append_minhash_index(
            spark,
            batch_df.select("doc_id", "text").repartition(32),
            "minhash_stream_idx",
            **kw,
        )

    delta_stream = (
        _file_stream(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(_probe_delta_col())
    )
    run_foreach_batch(
        delta_stream, _append, "stream_minhash_index_append"
    )
    # foreachBatch runs on a CLONED session (micro-batch isolation);
    # its appends share the warehouse but the outer session's cached
    # file listing for the two tables predates them — refresh before
    # probing or the probe silently reads the pre-stream index.
    spark.sql("REFRESH TABLE minhash_stream_idx_sigs")
    spark.sql("REFRESH TABLE minhash_stream_idx_bands")
    return _indexed_pairs(spark, sf_dir, "minhash_stream_idx")


def _stream_ivf_append_oracle() -> str:
    from .similarity import IVF_APPEND_TRAIN_SQL, _ivf_oracle

    return _ivf_oracle(train_pred=IVF_APPEND_TRAIN_SQL)


@register(
    "stream_ivf_index_append", oracle=_stream_ivf_append_oracle()
)
def stream_ivf_index_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING IVF index ingestion — the 20th value-checked stream
    twin, closing the family symmetry stream_minhash_index_append
    opened: the corpus shard's IVF index is built batch-side (frozen
    coarse quantizer + bucketed assignment table), the delta shard's
    vectors then ARRIVE AS A STREAM and every micro-batch appends its
    frozen-centroid assignments through ``foreachBatch`` → the same
    JVM ``append_ivf_index`` path the batch maintenance query
    certifies (bucketed appends add per-bucket files, never rewrite —
    bucket pruning survives any number of appends). After the bounded
    stream drains, the bucket-pruned exchange-free probe runs over
    the streamed-in index; assignment against frozen centroids is
    per-vector deterministic, so the result equals the from-scratch
    frozen-centroid build and carries the SAME ``_ivf_oracle``
    (train_pred) restatement as knn_ivf_index_append — a green row
    certifies the index the STREAM built. Same cloned-session REFRESH
    rule as the minhash twin. Runs the stream + writes at plan time:
    BUILD_EXECUTES."""
    from ..similarity.knn import (
        append_ivf_index,
        knn_ivf_indexed,
        write_ivf_index,
    )
    from ..sources.catalog import wide_table
    from ..streaming.windows import run_foreach_batch
    from .similarity import (
        IVF_ITERS,
        IVF_NLIST,
        IVF_NPROBE,
        QUERY_VEC_ID,
        TOP_K,
    )

    nib = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
    e = wide_table(spark, sf_dir, "embeddings")
    write_ivf_index(
        spark,
        e.filter(nib != "0"),
        "ivf_stream_idx",
        nlist=IVF_NLIST,
        iters=IVF_ITERS,
    )

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_ivf_index(spark, batch_df, "ivf_stream_idx")

    delta_stream = _file_stream(spark, sf_dir, "embeddings").where(nib == "0")
    run_foreach_batch(delta_stream, _append, "stream_ivf_index_append")
    spark.sql("REFRESH TABLE ivf_stream_idx_assign")
    return knn_ivf_indexed(
        spark, "ivf_stream_idx", QUERY_VEC_ID, TOP_K, nprobe=IVF_NPROBE
    )
