"""Stateful-streaming suite: materialize an insert/upsert/delete WAL through
the ``applyInPandasWithState`` operator and compare the final visible state
against pure SQL over ``orders``.

WAL timeline (deterministic, derived from orders; arrival order irrelevant —
resolution is by MVCC ts, see streaming/stateful.py):
  ts=1  insert every order with o_orderkey % 3 == 0 (payload = totalprice)
  ts=2  upsert the subset o_orderkey % 30 == 0 with doubled totalprice
  ts=3  delete the subset o_orderkey % 21 == 0

Final visible: pk % 3 == 0 AND pk % 21 != 0; price doubled where pk % 30 == 0.

Reference parity: the querynode ingest pipeline + delete buffer + MVCC
resolution (internal/querynodev2/pipeline/, delegator/deletebuffer/,
segcore/DeletedRecord.h:69) — re-expressed as keyed state in Spark's state
store, sharded by pk like Milvus's shard channels.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from milvus_spark.registry import register
from milvus_spark.scratch import SCRATCH, mkdtemp as scratch_mkdtemp
from milvus_spark.session import load_table, state_sized_shuffle
from milvus_spark.streaming.stateful import materialize_wal, read_final_state



def _stage_time_ordered(stage: str, em: DataFrame, sentinel_frames: list) -> str:
    """Stage a streaming WAL: two time-ordered chunks (split at the median
    event time of the ``_us`` column) followed by sentinel files. Two real
    chunks are the minimum that still exercises cross-micro-batch watermark
    progression (state carried over a batch boundary, late-data ordering);
    each extra chunk only adds fixed per-micro-batch state/checkpoint cost.
    ONE far-future sentinel suffices to flush state (r8 — profiled: every
    batch is ~0.3-1s of fixed state-commit overhead): the sentinel batch
    advances the watermark at its END, and ``availableNow`` then runs one
    final EMPTY finalization batch that evicts+emits everything below the
    new watermark — the second sentinel was paying a fifth micro-batch to
    do what that empty batch already does (asserted: identical emitted
    rows either way).
    Each chunk is written coalesce(1) — ONE file per chunk — because the
    file source trigger is one file per micro-batch and the 0-second
    watermark advances to a chunk's max event time after its batch: a
    second part file covering the same time range would arrive behind the
    watermark and be dropped as late data. Staged once per SF (immutable);
    returns the src dir."""
    src = os.path.join(stage, "src")
    if os.path.exists(os.path.join(stage, "_STAGED_V3")):
        return src
    shutil.rmtree(src, ignore_errors=True)  # drop any prior-layout staging
    (q1,) = em.approxQuantile("_us", [0.5], 0.0)
    bounds = [(None, q1), (q1, None)]
    for i, (lo, hi) in enumerate(bounds):
        part = em
        if lo is not None:
            part = part.filter(F.col("_us") > int(lo))
        if hi is not None:
            part = part.filter(F.col("_us") <= int(hi))
        part.drop("_us").coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"chunk{i}.parquet")
        )
    for j, sdf in enumerate(sentinel_frames):
        sdf.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"sentinel{j}.parquet")
        )
    open(os.path.join(stage, "_STAGED_V3"), "w").close()
    return src


def _write_wal(spark: SparkSession, sf: str, root: str) -> str:
    """Three WAL files (one micro-batch each) derived from orders."""
    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") % 3 == 0)
    wal = os.path.join(root, "wal")

    def rec(df: DataFrame, op: str, ts: int, price_col) -> DataFrame:
        payload = (
            F.lit(None).cast("string")
            if price_col is None
            else F.to_json(F.struct(price_col.alias("price")))
        )
        return df.select(
            F.col("o_orderkey").alias("pk"),
            F.lit(op).alias("op"),
            F.lit(ts).cast("bigint").alias("ts"),
            payload.alias("payload"),
        )

    rec(o, "insert", 1, F.col("o_totalprice")).write.parquet(
        os.path.join(wal, "b1.parquet")
    )
    rec(
        o.filter(F.col("o_orderkey") % 30 == 0), "upsert", 2, F.col("o_totalprice") * 2
    ).write.parquet(os.path.join(wal, "b2.parquet"))
    rec(o.filter(F.col("o_orderkey") % 21 == 0), "delete", 3, None).write.parquet(
        os.path.join(wal, "b3.parquet")
    )
    return wal


def run_wal_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Build WAL → stateful stream → final-state DataFrame (pk, price)."""
    root = scratch_mkdtemp("stateful_")
    shutil.rmtree(root)
    os.makedirs(root)
    wal = _write_wal(spark, sf, root)
    out = os.path.join(root, "state")
    with state_sized_shuffle(spark):
        materialize_wal(spark, wal + "/*", out, os.path.join(root, "ckpt"))
    final = read_final_state(spark, out)
    return final.select(
        F.col("pk").alias("o_orderkey"),
        F.round(F.get_json_object("payload", "$.price").cast("double"), 4).alias(
            "price"
        ),
    )


@register(
    "stream_upsert_state",
    oracle="""
    SELECT o_orderkey,
           round(CASE WHEN o_orderkey % 30 = 0 THEN o_totalprice * 2
                      ELSE o_totalprice END, 4) AS price
    FROM orders
    WHERE o_orderkey % 3 = 0 AND o_orderkey % 21 <> 0
    """,
)
def stream_upsert_state(spark: SparkSession, sf: str) -> DataFrame:
    return run_wal_pipeline(spark, sf)


# --- streaming tumbling-window aggregation over events ------------------------
@register(
    "stream_window_agg",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window aggregation computed BY THE STREAMING ENGINE in
    APPEND mode with watermark-driven finalization — the unbounded-safe
    pattern (complete-mode replay would re-emit every window each trigger
    and hold all windows in state forever): events stream as two
    time-ordered micro-batches, then one far-future sentinel batch plus
    availableNow's final empty batch push the watermark past every real
    day-window so the state store finalizes and EMITS them exactly once.
    The sentinel window never finalizes and is filtered by event_type. The emitted set must hash-match the batch SQL
    oracle (Structured Streaming's batch-equivalence contract)."""
    root = scratch_mkdtemp("streamwin_")
    # staged WAL is immutable per SF — stage once, reuse across calls
    # (checkpoint + sink stay fresh per run). The batch frame and the
    # sentinel plans are built ONLY when staging actually runs: their
    # analysis alone costs ~0.5s/call, pure overhead on a memoized-WAL
    # re-run (the r11 stream_session_agg profile decomposition)
    stage = os.path.join(SCRATCH, "streamwin_store", os.path.basename(sf.rstrip("/")))
    src = os.path.join(stage, "src")
    if not os.path.exists(os.path.join(stage, "_STAGED_V3")):
        e = load_table(spark, sf, "events").select("ts", "event_type", "value")
        sentinels = [
            e.agg(F.max("ts").alias("m")).select(
                (F.col("m") + F.expr(f"INTERVAL {days} DAYS")).alias("ts"),
                F.lit("_sentinel").alias("event_type"),
                F.lit(0.0).alias("value"),
            )
            for days in (10,)
        ]
        src = _stage_time_ordered(
            stage, e.withColumn("_us", F.unix_micros("ts")), sentinels
        )

    stream = (
        # the staged layout's data contract (stable under _STAGED_V3)
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("day"), "event_type", "n", "total_value")
    )
    name = "swa_" + os.path.basename(root).split("_")[-1]
    with state_sized_shuffle(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).filter(F.col("event_type") != "_sentinel").select(
        "day", "event_type", "n", "total_value"
    )


# --- streaming session windows: watermark-driven finalization ------------------
@register(
    "stream_session_agg",
    oracle="""
    WITH ordered AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM ordered
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS sess_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, sess_id
    """,
)
def stream_session_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows computed BY THE STREAMING ENGINE with append-mode
    watermark finalization (session_window + withWatermark — the stateful
    late-data path, not complete-mode replay): events stream in two
    time-ordered micro-batches, then one far-future sentinel batch
    advances the watermark past every real session and availableNow's
    final empty batch evicts and EMITS them (watermark-driven
    finalization is the semantics under test — a session emits only once
    its gap can no longer be extended). The sentinel session itself never
    finalizes and is filtered by user_id. The
    emitted set must hash-match the batch gaps-and-islands oracle."""
    root = scratch_mkdtemp("streamsess_")
    # the staged WAL (time-ordered chunks + sentinels) is immutable per SF —
    # stage it once and reuse across calls; only the checkpoint + memory
    # sink must be fresh per run (a reused checkpoint would resume a
    # finished query and emit nothing). Batch frame + sentinel plans build
    # ONLY when staging runs: their analysis costs ~0.5s/call (measured
    # r11: load_table 0.14s + sentinel plan 0.40s), pure overhead on a
    # memoized-WAL re-run of a ~2.2s query
    stage = os.path.join(SCRATCH, "streamsess_store", os.path.basename(sf.rstrip("/")))
    src = os.path.join(stage, "src")
    if not os.path.exists(os.path.join(stage, "_STAGED_V3")):
        e = load_table(spark, sf, "events").select("ts", "user_id")
        sentinels = [
            e.agg(F.max("ts").alias("m"))
            .select(F.col("m") + F.expr(f"INTERVAL {days} DAYS"), F.lit(uid).cast("long"))
            .toDF("ts", "user_id")
            for days, uid in ((10, -1),)
        ]
        src = _stage_time_ordered(
            stage, e.withColumn("_us", F.unix_micros("ts")), sentinels
        )

    stream = (
        # the staged layout's data contract (stable under _STAGED_V3)
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("sess_start"), "n_events")
    )
    name = "ssa_" + os.path.basename(root).split("_")[-1]
    with state_sized_shuffle(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).filter(F.col("user_id") >= 0).select(
        "user_id", "sess_start", "n_events"
    )


# --- streaming near-dup admission: stream-static band join --------------------
def _minhash_stream_oracle() -> str:
    from milvus_spark.suites.text import _BANDS, _band_sql, _minhash_sig_sql
    from milvus_spark.operators.text import SHINGLES_SQL, TOKENS_SQL

    toks = TOKENS_SQL.format(col="text")
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, {_band_sql(j)} AS bh FROM sig"
        for j in range(_BANDS)
    )
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    s AS (SELECT doc_id, list_distinct({SHINGLES_SQL.format(t='toks')}) AS sh FROM t),
    sig AS ({_minhash_sig_sql()}),
    bands AS ({bands}),
    nb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
    cb AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
    cand AS (
      SELECT DISTINCT nb.doc_id AS a, cb.doc_id AS b
      FROM nb JOIN cb ON nb.band = cb.band AND nb.bh = cb.bh
    ),
    verified AS (
      SELECT c.a, c.b,
             round(len(list_intersect(sa.sh, sb.sh)) * 1.0 /
                   (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
      FROM cand c JOIN s sa ON c.a = sa.doc_id JOIN s sb ON c.b = sb.doc_id
    )
    SELECT a, b, jaccard FROM verified WHERE jaccard >= 0.5
    """


@register("stream_dedup_minhash", oracle=_minhash_stream_oracle())
def stream_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming near-dup ADMISSION: new documents arrive as real
    Structured Streaming micro-batches and are checked against the static
    corpus's persisted MinHash band index via a STREAM-STATIC equi-join —
    the continuously-ingesting shape of dedup_minhash_incremental. The
    whole per-batch pipeline is stateless JVM column work (tokenize →
    signature → posexplode bands → band join → exact-jaccard verify), so
    append mode needs no watermark; the only state is the band-pair
    dropDuplicates, bounded by the emitted pair set (at real scale an
    arrival-time watermark would bound it by time instead). Emitted pairs
    must hash-match the batch oracle — the stream-static join's
    batch-equivalence contract."""
    from milvus_spark.operators.text import shingles, tokens, minhash_signature
    from milvus_spark.suites.text import _BANDS, _H

    root = scratch_mkdtemp("streamdedup_")
    d = load_table(spark, sf, "documents").select("doc_id", "text")

    def with_bands(df: DataFrame) -> DataFrame:
        sh = F.array_distinct(shingles(tokens(F.col("text"))))
        sig = df.select("doc_id", sh.alias("sh")).select(
            "doc_id", "sh",
            *[c.alias(f"s{i}") for i, c in enumerate(minhash_signature(F.col("sh"), _H))],
        )
        band_arr = F.array(
            *[
                F.md5(F.concat_ws("_", F.col(f"s{2 * j}"), F.col(f"s{2 * j + 1}")))
                for j in range(_BANDS)
            ]
        )
        return sig.select("doc_id", "sh", F.posexplode(band_arr).alias("band", "bh"))

    # the persisted corpus index, CONTENT-COLLAPSED (same trick as
    # suites/text.py: bands are a function of the shingle set, so the
    # index holds one representative per unique set plus a member map;
    # the stream joins reps and a second static join expands to members —
    # arriving docs pay for unique matching CONTENT, not for how many
    # copies the corpus holds of it)
    corpus_docs = d.filter(F.col("doc_id") % 5 != 0)
    sh_col = F.array_distinct(shingles(tokens(F.col("text"))))
    cs = corpus_docs.select(
        "doc_id", "text", F.sha2(F.concat_ws("\x1f", F.array_sort(sh_col)), 256).alias("h")
    )
    cmembers = cs.select(F.col("h").alias("hm"), F.col("doc_id").alias("b")).cache()
    crep_ids = cs.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    creps = cs.join(crep_ids, ["h", "doc_id"]).select("doc_id", "text", "h")
    corpus = (
        with_bands(creps.select("doc_id", "text"))
        .join(creps.select(F.col("doc_id").alias("rid"), "h"),
              F.col("doc_id") == F.col("rid"))
        .select(F.col("h").alias("hb"), F.col("sh").alias("shb"), "band", "bh")
        .cache()
    )
    corpus.count()
    cmembers.count()

    # stage the arriving docs as two parquet chunks → two micro-batches
    stage = os.path.join(SCRATCH, "streamdedup_store", os.path.basename(sf.rstrip("/")))
    src = os.path.join(stage, "src")
    if not os.path.exists(os.path.join(stage, "_STAGED")):
        new_docs = d.filter(F.col("doc_id") % 5 == 0)
        half = new_docs.agg(F.percentile_approx("doc_id", 0.5)).first()[0]
        for i, part in enumerate(
            (new_docs.filter(F.col("doc_id") <= half), new_docs.filter(F.col("doc_id") > half))
        ):
            part.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, f"chunk{i}"))
        open(os.path.join(stage, "_STAGED"), "w").close()

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    sb = with_bands(stream).select(
        F.col("doc_id").alias("a"), F.col("sh").alias("sha"),
        F.col("band").alias("band2"), F.col("bh").alias("bh2"),
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    # stream→rep band join + verify, THEN expand to corpus members: the
    # verify work is per unique matching set; the member join only writes
    # output rows
    rep_hits = (
        sb.join(corpus, (F.col("band2") == corpus.band) & (F.col("bh2") == corpus.bh))
        .select(
            "a", "hb",
            F.round(inter / (F.size("sha") + F.size("shb") - inter), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .dropDuplicates(["a", "hb"])
    )
    pairs = rep_hits.join(cmembers, rep_hits.hb == cmembers.hm).select(
        "a", "b", "jaccard"
    )
    name = "sdm_" + os.path.basename(root).split("_")[-1]
    with state_sized_shuffle(spark):
        q = (
            pairs.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select("a", "b", "jaccard")


@register(
    "stream_exact_dedup",
    oracle="""
    SELECT DISTINCT sha256(text) AS h, CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def stream_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact-dedup ADMISSION: documents arrive as real micro-
    batches and only the FIRST occurrence of each content hash is admitted —
    the ingest-side pk/content dedup every continuously-fed training corpus
    needs (and the streaming sibling of the batch ``dedup_exact`` groupBy).

    The stateful operator is Spark's own streaming ``dropDuplicates``: one
    state-store entry per unique hash, shuffle-partitioned by the key. The
    emitted columns are FUNCTIONS OF THE KEY (the hash itself and
    length(text), identical for every row sharing the hash), so the
    operator's pick-the-first-row-it-saw nondeterminism cannot leak into
    the result — the append-mode stream output equals the batch DISTINCT
    exactly, which is the oracle. At real scale the state is bounded with
    dropDuplicatesWithinWatermark on arrival time (late re-sends of content
    older than the watermark are already persisted corpus, not state)."""
    d = load_table(spark, sf, "documents").select("doc_id", "text")

    stage = os.path.join(SCRATCH, "streamexact_store", os.path.basename(sf.rstrip("/")))
    src = os.path.join(stage, "src")
    if not os.path.exists(os.path.join(stage, "_STAGED")):
        half = d.agg(F.percentile_approx("doc_id", 0.5)).first()[0]
        for i, part in enumerate(
            (d.filter(F.col("doc_id") <= half), d.filter(F.col("doc_id") > half))
        ):
            part.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, f"chunk{i}"))
        open(os.path.join(stage, "_STAGED"), "w").close()

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    admitted = stream.select(
        F.sha2(F.col("text"), 256).alias("h"),
        F.length("text").cast("long").alias("n_chars"),
    ).dropDuplicates(["h"])

    root = scratch_mkdtemp("streamexact_")
    name = "sed_" + os.path.basename(root).split("_")[-1]
    with state_sized_shuffle(spark):
        q = (
            admitted.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select("h", "n_chars")
