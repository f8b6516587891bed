"""Registry entries for the surfaces that were pytest-only in round 2:
the end-to-end flows (landing → clean → merge sink), the J1 positional
zip join, and MLlib sentiment scoring — so the external driver sees and
records them, not just the test suite.

``flows_e2e`` is rows-only (its semantics are side-effecting writes +
inserted counts, not a SQL-expressible relation); ``zip_docs_embeddings``
has a full DuckDB oracle (row_number twins); ``sentiment_scores`` is
rows-only (LR training is iterative, not SQL).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stonkwhisperer_spark.flows import bars_flow, news_flow, posts_flow
from stonkwhisperer_spark.functions.text import clean_text_for_nlp, clean_text_for_nlp_sql
from stonkwhisperer_spark.operators.asof import zip_join
from stonkwhisperer_spark.plans.glue import bounded_collect
from stonkwhisperer_spark.plans.queries_pipelines import _bars_raw, _news_raw, _posts_raw
from stonkwhisperer_spark.plans.registry import register
from stonkwhisperer_spark.session import scratch_dir
from stonkwhisperer_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# flows_e2e — the reference's three ETL flows end to end, twice each.
# Exercises F1 (flair predicate), F12/A5 (empty-input short-circuit +
# count-sum), K1 (partitioned write), K3–K5 (merge sinks, FK resolve).
# --------------------------------------------------------------------------
_BARS_LANDING_CAP = 20_000  # deterministic event subset keeps bench bounded


@register("flows_e2e", oracle=None)
def q_flows_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run news/posts/bars flows end-to-end against scratch targets:
    landing-zone parquet (derived deterministically from documents /
    events) → pipeline transform → idempotent merge sink. Each flow
    runs TWICE; the rerun must insert 0 rows (the reference's core
    idempotence invariant, loading.py:150-161). Returns one row per
    flow with both insert counts — rows-only check by design: the
    result is a side-effecting job's audit log, not a relation.

    Scale: each flow is one lazy plan — a shuffle for the dedup window
    plus the merge anti-join; the rerun's anti-join prunes to the key
    columns of the freshly written target."""
    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < _BARS_LANDING_CAP
    )
    scratch = scratch_dir("stonkw_flows_")
    try:
        news_landing = f"{scratch}/landing_news"
        posts_landing = f"{scratch}/landing_posts"
        bars_landing = f"{scratch}/landing_bars"
        companies = spark.createDataFrame(
            [(f"c{i}", f"S{i}") for i in range(15)], "id string, ticker string"
        )
        # Landing drops: RAW_* shaped, one file each. No pre-sort: the
        # flows' insert COUNTS (the rows-only contract here) are
        # invariant to which duplicate the keep-first dedup keeps, and
        # the value-deterministic dedup surface is oracle-covered by
        # news_clean/posts_clean/bars_clean — three global sorts of the
        # landing data were pure fixed overhead.
        landings = [
            lambda: _news_raw(docs)
            .drop("_arrival_id").coalesce(1).write.parquet(news_landing),
            lambda: _posts_raw(docs)
            .drop("_arrival_id").coalesce(1).write.parquet(posts_landing),
            lambda: _bars_raw(events)
            .withColumn(
                "timestamp",
                F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            )
            .drop("event_id").coalesce(1).write.parquet(bars_landing),
        ]

        # The landing drops and the three flows are independent DAGs on
        # disjoint targets — run each stage concurrently (Spark's
        # scheduler interleaves the jobs), exactly how independent flows
        # share a production cluster; each flow's rerun stays serial
        # after its first run (the idempotence contract is per-target).
        # The whole block runs under a narrowed shuffle width: at
        # harness scale the flows' dedup-window + anti-join shuffles are
        # a few MB each, and 32-wide shuffles made task scheduling, not
        # data, the dominant cost (10.5 s → the bulk of this query's
        # wall time). Production sizes this to the cluster.
        from concurrent.futures import ThreadPoolExecutor

        def run_twice(flow_and_fn):
            flow, run = flow_and_fn
            target = f"{scratch}/target_{flow}"
            return (flow, run(target), run(target))

        flows = [
            ("news", lambda t: news_flow(spark, news_landing, t)),
            ("posts", lambda t: posts_flow(spark, posts_landing, t, flairs=["DD", "News"])),
            ("bars", lambda t: bars_flow(spark, bars_landing, t, companies)),
        ]
        with _stream_shuffle_width(spark, 8), ThreadPoolExecutor(max_workers=3) as pool:
            for _ in pool.map(lambda w: w(), landings):
                pass
            rows = list(pool.map(run_twice, flows))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows, "flow string, inserted_first bigint, inserted_rerun bigint"
    )


# --------------------------------------------------------------------------
# flows_e2e_state — the HASH companion to flows_e2e (VERDICT r9 task 3,
# mirroring the txlog_e2e_state pattern): run the three flows into
# scratch txlog targets with a value-deterministic arrival order, read
# back the COMMITTED end-state tables, and return one stage-tagged
# relation (state rows + per-flow audit counts) whose DuckDB twin
# replays clean → dedup → merge relationally.
# --------------------------------------------------------------------------
_FLOWS_STATE_EVENT_CAP = 5000  # bounds the bars leg (and the final collect)


def _flows_state_oracle() -> str:
    from stonkwhisperer_spark.plans.queries_pipelines import (
        bars_clean_oracle,
        news_clean_oracle,
        posts_clean_oracle,
    )

    # First-run merge-append into an EMPTY target inserts exactly the
    # clean relation (each flow's batch is unique on its merge key by
    # construction — see q_flows_e2e_state docstring), and the rerun
    # inserts 0 — so the committed end state IS the clean relation and
    # the audit counts are its cardinality and a hard zero.
    return f"""
    WITH news AS ({news_clean_oracle()}),
    posts AS ({posts_clean_oracle(flairs=["DD", "News"])}),
    ev AS (
      SELECT event_id, ts, user_id FROM (
        SELECT event_id, ts, user_id,
               row_number() OVER (PARTITION BY user_id % 15, ts
                                  ORDER BY event_id) AS _rn
        FROM events WHERE event_id < {_FLOWS_STATE_EVENT_CAP}
      ) WHERE _rn = 1
    ),
    bars AS ({bars_clean_oracle(src="ev")}),
    state AS (
      SELECT 'news' AS flow, 'state' AS stage, url AS k,
             author AS attr, title_cleaned AS title, content_cleaned AS body,
             published_at AS ts,
             CAST(NULL AS DOUBLE) AS m1, CAST(NULL AS DOUBLE) AS m2,
             CAST(NULL AS DOUBLE) AS m3
      FROM news
      UNION ALL
      SELECT 'posts', 'state', reddit_id, author, subreddit_category,
             body_text, published_at,
             CAST(score AS DOUBLE), upvote_ratio, CAST(NULL AS DOUBLE)
      FROM posts
      UNION ALL
      SELECT 'bars', 'state', 'c' || substr(ticker, 2), ticker,
             CAST(CAST(bar_ts AS DATE) AS VARCHAR), CAST(NULL AS VARCHAR),
             bar_ts, open, close, CAST(volume AS DOUBLE)
      FROM bars
    ),
    audit AS (
      SELECT flow, 'audit' AS stage, 'inserted' AS k,
             CAST(NULL AS VARCHAR) AS attr, CAST(NULL AS VARCHAR) AS title,
             CAST(NULL AS VARCHAR) AS body, CAST(NULL AS TIMESTAMP) AS ts,
             CAST(n AS DOUBLE) AS m1, CAST(0 AS DOUBLE) AS m2,
             CAST(NULL AS DOUBLE) AS m3
      FROM (
        SELECT 'news' AS flow, (SELECT count(*) FROM news) AS n
        UNION ALL
        SELECT 'posts', (SELECT count(*) FROM posts)
        UNION ALL
        SELECT 'bars', (SELECT count(*) FROM bars)
      )
    )
    SELECT * FROM state UNION ALL SELECT * FROM audit
    """


_FLOWS_STATE_SCHEMA = (
    "flow string, stage string, k string, attr string, title string,"
    " body string, ts timestamp_ntz, m1 double, m2 double, m3 double"
)


@register("flows_e2e_state", oracle=_flows_state_oracle())
def q_flows_e2e_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flows_e2e's pipeline with its end state under the VALUE HASH
    (flows_e2e itself is rows-only by design — its relation is the
    audit log of a side-effecting job): run all three reference flows
    (news/posts/bars: landing read → clean → idempotent merge into a
    txlog target, reference flows/news_etl_flow.py:16-23) twice each
    against scratch targets, then read back the COMMITTED tables and
    return one stage-tagged relation — representative typed columns of
    every committed row, plus per-flow audit rows carrying the first
    insert count and the rerun count (hash-pinned to 0, the
    loading.py:150-161 idempotence invariant).

    Value determinism, the reason flows_e2e could never carry a hash:
    here the landing files CARRY their arrival order
    (``arrival_in_data=True`` — _arrival_id = doc_id / event_id), so
    every keep-first dedup picks the same survivor on every engine,
    and the bars landing is pre-deduplicated to one event per
    (symbol, ts) (keep min event_id) so merge_append's key-dedup is a
    no-op rather than an arbitrary pick. The DuckDB twin replays
    clean → dedup → merge relationally from the same seed tables: a
    flow that merged a wrong duplicate, dropped a flair-filtered row
    on the wrong side of dedup, or inserted on a rerun hash-fails.

    Scale: each flow is the same one-shuffle lazy plan as flows_e2e;
    the end-state read-back is O(committed rows), collected before
    scratch cleanup and bounded by the event cap (~5.5k rows)."""
    from stonkwhisperer_spark.sinks.writers import read_committed

    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < _FLOWS_STATE_EVENT_CAP
    )
    wdd = Window.partitionBy(F.col("user_id") % 15, "ts").orderBy("event_id")
    ev = (
        events.withColumn("_rn", F.row_number().over(wdd))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    scratch = scratch_dir("stonkw_flows_state_")
    try:
        news_landing = f"{scratch}/landing_news"
        posts_landing = f"{scratch}/landing_posts"
        bars_landing = f"{scratch}/landing_bars"
        companies = spark.createDataFrame(
            [(f"c{i}", f"S{i}") for i in range(15)], "id string, ticker string"
        )
        landings = [
            lambda: _news_raw(docs).coalesce(1).write.parquet(news_landing),
            lambda: _posts_raw(docs).coalesce(1).write.parquet(posts_landing),
            lambda: (
                _bars_raw(ev)
                .withColumn(
                    "timestamp",
                    F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                )
                .withColumnRenamed("event_id", "_arrival_id")
                .coalesce(1)
                .write.parquet(bars_landing)
            ),
        ]

        flows = [
            ("news", lambda t: news_flow(spark, news_landing, t, arrival_in_data=True)),
            (
                "posts",
                lambda t: posts_flow(
                    spark, posts_landing, t, flairs=["DD", "News"], arrival_in_data=True
                ),
            ),
            (
                "bars",
                lambda t: bars_flow(
                    spark, bars_landing, t, companies, arrival_in_data=True
                ),
            ),
        ]

        # Same concurrency shape as flows_e2e: the landing drops and
        # the three flows are independent DAGs on disjoint targets —
        # Spark's scheduler interleaves the jobs; each flow's rerun
        # stays serial after its first run (idempotence is per-target).
        from concurrent.futures import ThreadPoolExecutor

        def run_twice(flow_and_fn):
            flow, run = flow_and_fn
            target = f"{scratch}/target_{flow}"
            return (flow, target, run(target), run(target))

        with _stream_shuffle_width(spark, 8), ThreadPoolExecutor(max_workers=3) as pool:
            for _ in pool.map(lambda w: w(), landings):
                pass
            results = list(pool.map(run_twice, flows))
        targets = {flow: target for flow, target, _, _ in results}
        audit_rows = [
            (flow, "audit", "inserted", None, None, None, None,
             float(first), float(rerun), None)
            for flow, _, first, rerun in results
        ]

        dnull = F.lit(None).cast("double")
        ntz = lambda c: F.col(c).cast("timestamp_ntz")  # noqa: E731
        news_t = read_committed(spark, targets["news"]).select(
            F.lit("news").alias("flow"), F.lit("state").alias("stage"),
            F.col("url").alias("k"), F.col("author").alias("attr"),
            F.col("title_cleaned").alias("title"),
            F.col("content_cleaned").alias("body"),
            ntz("published_at").alias("ts"),
            dnull.alias("m1"), dnull.alias("m2"), dnull.alias("m3"),
        )
        posts_t = read_committed(spark, targets["posts"]).select(
            F.lit("posts").alias("flow"), F.lit("state").alias("stage"),
            F.col("reddit_id").alias("k"), F.col("author").alias("attr"),
            F.col("subreddit_category").alias("title"),
            F.col("body_text").alias("body"),
            ntz("published_at").alias("ts"),
            F.col("score").cast("double").alias("m1"),
            F.col("upvote_ratio").cast("double").alias("m2"),
            dnull.alias("m3"),
        )
        bars_t = read_committed(spark, targets["bars"]).select(
            F.lit("bars").alias("flow"), F.lit("state").alias("stage"),
            F.col("company_id").alias("k"), F.col("ticker").alias("attr"),
            F.col("bar_date").cast("string").alias("title"),
            F.lit(None).cast("string").alias("body"),
            ntz("bar_ts").alias("ts"),
            F.col("open").cast("double").alias("m1"),
            F.col("close").cast("double").alias("m2"),
            F.col("volume").cast("double").alias("m3"),
        )
        audit = spark.createDataFrame(audit_rows, _FLOWS_STATE_SCHEMA)
        # Materialize before the scratch targets vanish (bounded: ~5.5k
        # rows under the event cap).
        rows = bounded_collect(
            news_t.unionByName(posts_t).unionByName(bars_t).unionByName(audit),
            20_000,
            "event-capped landing end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, _FLOWS_STATE_SCHEMA)


# --------------------------------------------------------------------------
# api_ingest_e2e — the Spark-4 Python Data Source (sources/datasource.py)
# feeding clean_news, oracle-checked end to end: the synthetic page
# records are deterministic formulas DuckDB re-derives from range().
# --------------------------------------------------------------------------
_API_LIMIT = 200


@register(
    "api_ingest_e2e",
    oracle=f"""
    WITH raw AS (
      SELECT i,
             CASE WHEN i % 7 = 0 THEN NULL
                  ELSE 'author_' || (i % 13) END        AS author,
             'Title ' || i                              AS title,
             'body text ' || i                          AS content,
             'https://news.example.com/' || i           AS url,
             'Source ' || (i % 5)                       AS source_name,
             '2024-03-' || lpad(cast((i % 28) + 1 AS varchar), 2, '0')
               || 'T' || lpad(cast(i % 24 AS varchar), 2, '0')
               || ':15:30Z'                             AS publishedAt
      FROM range({_API_LIMIT}) t(i)
    )
    SELECT sha256(url)                                  AS id,
           coalesce(author, 'No Author')                AS author,
           title, content,
           {clean_text_for_nlp_sql("title")}            AS title_cleaned,
           {clean_text_for_nlp_sql("content")}          AS content_cleaned,
           cast(publishedAt AS timestamp)               AS published_at,
           source_name, url
    FROM raw
    """,
)
def q_api_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-as-a-DataSource end to end: ``format("stonkw_api")`` (the
    reference's NewsAPI extractor packaged as a Spark 4 Python Data
    Source — 4 input partitions respec the Celery fan-out) piped into
    clean_news, verified against a DuckDB twin that re-derives the same
    deterministic page records. Proves the source's schema declaration,
    partition planning, and record iteration produce exactly the rows
    the contract says."""
    from stonkwhisperer_spark.pipelines import clean_news
    from stonkwhisperer_spark.sources.datasource import LandingApiDataSource

    try:
        spark.dataSource.register(LandingApiDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    raw = (
        spark.read.format("stonkw_api")
        .option("kind", "news")
        .option("limit", _API_LIMIT)
        .load()
    )
    return clean_news(
        raw.withColumn("_arrival_id", F.monotonically_increasing_id()),
        order_col="_arrival_id",
    )


# --------------------------------------------------------------------------
# zip_docs_embeddings — J1 positional zip join, exact form.
# --------------------------------------------------------------------------
@register(
    "zip_docs_embeddings",
    oracle="""
    WITH l AS (
      SELECT doc_id, source,
             row_number() OVER (ORDER BY doc_id) AS rn
      FROM documents
    ),
    r AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY vec_id) AS rn
      FROM embeddings
    )
    SELECT l.doc_id, l.source, r.vec_id
    FROM l JOIN r USING (rn)
    """,
)
def q_zip_docs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 exact positional join (reference extraction.py:178-179 zips
    fetched articles back onto posts by list position): i-th document ↔
    i-th embedding under explicit orderings. The global row_number is a
    single-partition sort by construction — parity surface only; the
    scale paths are the key-equi respec (posts_link_articles) and, when
    positional semantics must stay, zip_docs_embeddings_dist."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return zip_join(docs, emb, F.col("doc_id"), F.col("vec_id")).select(
        "doc_id", "source", "vec_id"
    )


# --------------------------------------------------------------------------
# zip_docs_embeddings_dist — the same J1 relation, SCALE form: no
# single-partition sort anywhere in the plan.
# --------------------------------------------------------------------------
@register(
    "zip_docs_embeddings_dist",
    oracle="""
    WITH l AS (
      SELECT doc_id, source,
             row_number() OVER (ORDER BY doc_id) AS rn
      FROM documents
    ),
    r AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY vec_id) AS rn
      FROM embeddings
    )
    SELECT l.doc_id, l.source, r.vec_id
    FROM l JOIN r USING (rn)
    """,
)
def q_zip_docs_embeddings_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for the J1 positional join: identical relation to
    zip_docs_embeddings (same oracle), but each side's global rank
    comes from range-partitioned local row_numbers + broadcast
    cumulative partition offsets (operators/asof.py dist_zip_join — the
    DataFrame form of zipWithIndex), so there is NO single-partition
    sort in the plan: per side a range shuffle + a uniform _pid hash
    shuffle for the local rank, a ≤32-row offsets broadcast, then one
    uniform rank equi-join. This is the form a
    1000-executor cluster runs when positional semantics genuinely
    can't be respecced to a key join."""
    from stonkwhisperer_spark.operators.asof import dist_zip_join

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return dist_zip_join(docs, emb, F.col("doc_id"), F.col("vec_id")).select(
        "doc_id", "source", "vec_id"
    )


# --------------------------------------------------------------------------
# sentiment_scores — MLlib train + score (BASELINE north-star surface).
# --------------------------------------------------------------------------
@register("sentiment_scores", oracle=None)
def q_sentiment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the Tokenizer→StopWords→TF-IDF→LogisticRegression pipeline
    on deterministic weak labels over cleaned document text, then score
    the corpus (fixed seed + fixed hash space ⇒ deterministic).
    Rows-only check: iterative LR training is not SQL-expressible.
    Scale: training iterates over a cached feature frame; scoring is a
    JVM map-only pass (plan asserted free of Python eval in
    tests/test_ml.py)."""
    from stonkwhisperer_spark.ml.sentiment import score_sentiment, train_sentiment, weak_labels

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", clean_text_for_nlp("text").alias("content_cleaned")
    )
    # Materialize once: the LR fit iterates over the TF-IDF chain and
    # the scoring pass reads it again — unmaterialized this recomputes
    # the regex-clean + featurization per action (measured 4.5x slower).
    # localCheckpoint rather than cache() so the blocks are freed by the
    # ContextCleaner when the frame drops out of scope, instead of
    # pinning storage memory across a long-lived session's sweeps.
    labeled = weak_labels(
        docs, "content_cleaned", pos_word="fast", neg_word="slow"
    ).localCheckpoint(eager=True)
    model = train_sentiment(labeled)
    return score_sentiment(model, labeled).select(
        "doc_id", "label", "prediction", "p_positive"
    )


# --------------------------------------------------------------------------
# sentiment_closed_form — the ML family's HASH-CHECKED row: a FIXED
# closed-form linear sentiment model (pinned integer milli-weights over
# lexicon hit counts) that DuckDB recomputes exactly. The trained-LR
# surface (sentiment_scores) stays rows-only — iterative training isn't
# SQL; this companion gates the scoring semantics the pipeline shares.
# --------------------------------------------------------------------------
_SENT_SQL_HITS = (
    "CAST((length(lower(text)) - length(replace(lower(text), '{w}', ''))) / "
    "{n} AS BIGINT)"
)


@register(
    "sentiment_closed_form",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source,
             {_SENT_SQL_HITS.format(w="fast", n=4)} AS pos_hits,
             {_SENT_SQL_HITS.format(w="slow", n=4)} AS neg_hits
      FROM documents
    )
    SELECT doc_id, source, pos_hits, neg_hits,
           1200 * pos_hits - 800 * neg_hits - 150 AS logit_milli,
           CASE WHEN 1200 * pos_hits - 800 * neg_hits - 150 > 0
                THEN 1 ELSE 0 END AS pred,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY source
                ORDER BY 1200 * pos_hits - 800 * neg_hits - 150 DESC, doc_id
           ) AS BIGINT) AS sent_rank
    FROM s
    """,
)
def q_sentiment_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ML scoring under the value hash: a pinned-weight
    linear sentiment model — logit = 1.2·pos − 0.8·neg − 0.15 in
    integer MILLI-units over lexicon hit counts — scored corpus-wide,
    with the per-source sentiment ranking (row_number on the logit).
    The weights are literals, the arithmetic is exact BIGINT, and the
    ranking is tie-broken on doc_id, so the DuckDB twin reproduces
    every value bit-for-bit. Integer milli-weights instead of a float
    sigmoid are deliberate: java.lang.Math.exp and C libm disagree in
    the last ulp, and the sigmoid is monotone in this logit — the
    ranking and the decision boundary (pred = logit > 0) ARE the
    model's observable behavior. The trained TF-IDF+LR pipeline keeps
    its rows-only row (sentiment_scores); this gates the shared scoring
    shape with a hash.

    Scale: hit counting is a map-only JVM expression pass; the ranking
    windows per source (bounded partitions), never globally."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    t = F.lower(F.col("text"))

    def hits(word: str):
        return (
            (F.length(t) - F.length(F.replace(t, F.lit(word), F.lit(""))))
            / F.lit(len(word))
        ).cast("bigint")

    scored = docs.select(
        "doc_id",
        "source",
        hits("fast").alias("pos_hits"),
        hits("slow").alias("neg_hits"),
    ).withColumn(
        "logit_milli",
        F.lit(1200) * F.col("pos_hits") - F.lit(800) * F.col("neg_hits") - F.lit(150),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("logit_milli").desc(), F.col("doc_id").asc()
    )
    return scored.select(
        "doc_id",
        "source",
        "pos_hits",
        "neg_hits",
        "logit_milli",
        F.when(F.col("logit_milli") > 0, F.lit(1)).otherwise(F.lit(0)).alias("pred"),
        F.row_number().over(w).cast("bigint").alias("sent_rank"),
    )


class _stream_shuffle_width:
    """Pin spark.sql.shuffle.partitions for a harness-scale streaming
    drain: stateful operators allocate state stores PER shuffle
    partition (a stream-stream join keeps four per partition), so at
    the gate's data scale 32 partitions mean ~128 state-store commits
    of overhead per micro-batch for a few-MB drain. Production streams
    size this to the cluster; the context manager keeps the narrowing
    scoped to the drained query and restores the session conf after."""

    def __init__(self, spark: SparkSession, n: int = 8):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


# --------------------------------------------------------------------------
# streaming_ohlcv — the Structured Streaming minute-bars path itself
# under the DuckDB oracle: a real availableNow stream over a landing
# drop, drained to a memory sink, returned as the batch relation.
# --------------------------------------------------------------------------
_STREAM_OHLCV_CAP = 20_000
_stream_ohlcv_runs = 0


@register(
    "streaming_ohlcv",
    oracle=f"""
    WITH ticks AS (
      SELECT 'S' || (user_id % 15) AS symbol, ts, event_id, value AS price
      FROM events WHERE event_id < {_STREAM_OHLCV_CAP}
    ),
    e AS (
      SELECT symbol, date_trunc('minute', ts) AS bar_ts, price,
             row_number() OVER (PARTITION BY symbol, date_trunc('minute', ts)
                                ORDER BY ts, event_id)           AS rn_a,
             row_number() OVER (PARTITION BY symbol, date_trunc('minute', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM ticks
    )
    SELECT bar_ts, symbol,
           max(CASE WHEN rn_a = 1 THEN price END) AS open,
           max(price)                             AS high,
           min(price)                             AS low,
           max(CASE WHEN rn_d = 1 THEN price END) AS close,
           count(*)                               AS n_ticks
    FROM e GROUP BY 1, 2
    """,
)
def q_streaming_ohlcv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute OHLCV computed BY THE STREAMING PATH — not a batch twin:
    ticks (derived deterministically from events) land as parquet, a
    file-source stream reads them, the watermarked windowed aggregation
    runs under an availableNow trigger into a complete-mode memory
    sink, and the drained table is returned for the oracle compare. So
    the driver's correctness gate covers the streaming aggregation
    operator itself (deterministic open/close via the (ts, event_id)
    tie-break, same discipline as batch ohlcv_1min).

    Scale: the streaming agg shuffles once on (window, symbol) with
    partial merge, state bounded by the watermark; complete-mode memory
    sink is the TEST harness shape only — production writes through
    start_merge_stream."""
    global _stream_ohlcv_runs
    import shutil

    from stonkwhisperer_spark.streaming.jobs import minute_bars, read_landing_stream

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < _STREAM_OHLCV_CAP
    )
    ticks = events.select(
        F.concat(F.lit("S"), F.col("user_id") % 15).alias("symbol"),
        # watermarks require TIMESTAMP (tz-aware); the session is pinned
        # UTC so the ntz→ltz cast is wall-clock lossless both ways.
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id"),
        F.col("value").alias("price"),
    )
    scratch = scratch_dir("stonkw_stream_ohlcv_")
    try:
        landing = f"{scratch}/ticks"
        ticks.coalesce(1).write.parquet(landing)
        _stream_ohlcv_runs += 1
        name = f"stream_ohlcv_{_stream_ohlcv_runs}"
        stream = read_landing_stream(
            spark,
            landing,
            spark.read.parquet(landing).schema,
        )
        bars = minute_bars(stream, tiebreak_col="event_id")
        with _stream_shuffle_width(spark):
            q = (
                bars.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", f"{scratch}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                # awaitTermination returns False on timeout; reading the
                # memory table then would surface as a baffling oracle
                # hash mismatch on a partially-drained stream — fail
                # clearly.
                if not q.awaitTermination(300):
                    raise TimeoutError("streaming_ohlcv did not drain within 300s")
            finally:
                q.stop()
        return spark.table(name).select(
            F.col("bar_ts").cast("timestamp_ntz").alias("bar_ts"),
            "symbol",
            "open",
            "high",
            "low",
            "close",
            F.col("n_ticks").cast("bigint").alias("n_ticks"),
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# streaming_join — the stream-stream time-bounded join itself under the
# DuckDB oracle (the last streaming operator family that was pytest-only):
# two real file-source streams, joined with watermarks + an event-time
# bound, drained availableNow to a memory sink.
# --------------------------------------------------------------------------
_STREAM_JOIN_CAP = 20_000
_STREAM_JOIN_LOOKBACK = "4 hours"  # test-scale; production uses minutes
_stream_join_runs = 0


@register(
    "streaming_join",
    oracle=f"""
    WITH ticks AS (
      SELECT 'S' || (user_id % 15) AS symbol, ts, event_id, value AS price
      FROM events WHERE event_id < {_STREAM_JOIN_CAP} AND event_id % 2 = 0
    ),
    scores AS (
      SELECT 'S' || (user_id % 15) AS symbol, ts, event_id, value AS score
      FROM events WHERE event_id < {_STREAM_JOIN_CAP} AND event_id % 2 = 1
    )
    SELECT t.symbol,
           t.event_id AS tick_id,  t.ts AS tick_ts,  t.price,
           s.event_id AS score_id, s.ts AS score_ts, s.score
    FROM ticks t JOIN scores s
      ON t.symbol = s.symbol
     AND s.ts BETWEEN t.ts - INTERVAL 4 HOUR AND t.ts
    """,
)
def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join computed BY THE STREAMING PATH: tick and
    score streams (even/odd event_id halves of events, deterministic)
    land as parquet, two file-source streams read them, and
    ``join_streams_time_bounded`` attaches every score published in the
    4 hours before each same-symbol tick — watermarks on BOTH sides
    plus the event-time bound, the two conditions that let Spark evict
    join state instead of buffering history. Drained under availableNow
    into an append-mode memory sink (inner-join matches emit as
    produced; only outer joins wait on the watermark), then returned as
    the batch relation for the oracle compare.

    Scale: state per side is (watermark + lookback) of rows per symbol
    — bounded regardless of stream length; the join shuffles both
    sides on symbol once. The 4-hour lookback is the TEST-scale knob
    (sparse synthetic ticks); production cadences use minutes."""
    global _stream_join_runs
    import shutil

    from stonkwhisperer_spark.streaming.jobs import (
        join_streams_time_bounded,
        read_landing_stream,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < _STREAM_JOIN_CAP
    )
    base = events.select(
        F.concat(F.lit("S"), F.col("user_id") % 15).alias("symbol"),
        F.col("ts").cast("timestamp").alias("ts"),  # UTC session: ntz→ltz lossless
        "event_id",
        F.col("value"),
    )
    ticks = base.filter(F.col("event_id") % 2 == 0).withColumnRenamed("value", "price")
    scores = base.filter(F.col("event_id") % 2 == 1).withColumnRenamed("value", "score")
    scratch = scratch_dir("stonkw_stream_join_")
    try:
        tick_path, score_path = f"{scratch}/ticks", f"{scratch}/scores"
        ticks.coalesce(1).write.parquet(tick_path)
        scores.coalesce(1).write.parquet(score_path)
        _stream_join_runs += 1
        name = f"stream_join_{_stream_join_runs}"
        joined = join_streams_time_bounded(
            read_landing_stream(spark, tick_path, spark.read.parquet(tick_path).schema),
            read_landing_stream(spark, score_path, spark.read.parquet(score_path).schema),
            key="symbol",
            lookback=_STREAM_JOIN_LOOKBACK,
        ).select(
            F.col("_l.symbol").alias("symbol"),
            F.col("_l.event_id").alias("tick_id"),
            F.col("_l.ts").alias("tick_ts"),
            F.col("_l.price").alias("price"),
            F.col("_r.event_id").alias("score_id"),
            F.col("_r.ts").alias("score_ts"),
            F.col("_r.score").alias("score"),
        )
        with _stream_shuffle_width(spark):
            q = (
                joined.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", f"{scratch}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("streaming_join did not drain within 300s")
            finally:
                q.stop()
        return spark.table(name).select(
            "symbol",
            "tick_id",
            F.col("tick_ts").cast("timestamp_ntz").alias("tick_ts"),
            "price",
            "score_id",
            F.col("score_ts").cast("timestamp_ntz").alias("score_ts"),
            "score",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# streaming_sessions — session-window aggregation BY THE STREAMING PATH
# (merging session state is the one windowing mode with dynamic bounds;
# complete-mode drain makes the final session set deterministic).
# --------------------------------------------------------------------------
_SESS_GAP = "30 minutes"
_SESS_GAP_US = 30 * 60 * 1_000_000
_stream_sess_runs = 0


@register(
    "streaming_sessions",
    oracle=f"""
    WITH src AS (
      SELECT user_id % 50 AS sess_key, ts, event_id FROM events
    ),
    ordered AS (
      SELECT sess_key, ts, event_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap
      FROM src
      WINDOW w AS (PARTITION BY sess_key ORDER BY ts, event_id)
    ),
    marked AS (
      SELECT sess_key, ts,
             CASE WHEN gap IS NULL OR gap >= {_SESS_GAP_US} THEN 1 ELSE 0 END
               AS new_sess
      FROM ordered
    ),
    numbered AS (
      SELECT sess_key, ts,
             sum(new_sess) OVER (PARTITION BY sess_key ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT sess_key,
           min(ts)                               AS session_start,
           max(ts) + INTERVAL 30 MINUTE          AS session_end,
           count(*)                              AS n_events
    FROM numbered
    GROUP BY sess_key, sid
    """,
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows computed BY THE STREAMING PATH: a file-source
    stream of events keyed by user_id % 50, aggregated with
    ``session_window(ts, '30 minutes')`` — the dynamic-gap windowing
    mode whose state MERGES adjacent windows as events arrive — drained
    complete-mode under availableNow and compared against the
    gaps-and-islands batch twin (new session iff gap >= 30 min,
    matching the half-open [start, last+gap) streaming semantics;
    session_end = last event + gap on both sides).

    Scale: session state is per (key, open session); the complete-mode
    drain is the TEST harness shape — production emits append-mode
    closed sessions past the watermark and the state store only holds
    open sessions per key."""
    global _stream_sess_runs
    import shutil

    from stonkwhisperer_spark.streaming.jobs import read_landing_stream

    src = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 50).alias("sess_key"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    scratch = scratch_dir("stonkw_stream_sess_")
    try:
        landing = f"{scratch}/events"
        src.coalesce(1).write.parquet(landing)
        _stream_sess_runs += 1
        name = f"stream_sessions_{_stream_sess_runs}"
        stream = read_landing_stream(
            spark, landing, spark.read.parquet(landing).schema
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(
                F.session_window("ts", _SESS_GAP).alias("w"), F.col("sess_key")
            )
            .agg(F.count("*").alias("n_events"))
        )
        with _stream_shuffle_width(spark):
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", f"{scratch}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("streaming_sessions did not drain within 300s")
            finally:
                q.stop()
        return spark.table(name).select(
            "sess_key",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# streaming_dedup — dropDuplicatesWithinWatermark under the gate: the
# kept-row payload is arrival-order-dependent, so the gated projection
# is the KEY SET, which is deterministic; payload semantics stay
# pytest-covered (tests/test_streaming.py).
# --------------------------------------------------------------------------
_stream_dedup_runs = 0


@register(
    "streaming_dedup",
    oracle="SELECT DISTINCT user_id % 1000 AS dedup_key FROM events",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-stream dedup BY THE STREAMING PATH:
    ``dropDuplicatesWithinWatermark`` over a file-source event stream
    keyed by user_id % 1000, drained availableNow, projected to the
    surviving key set (the oracle-stable part — WHICH duplicate
    survives is arrival order, checked separately in pytest).

    Scale: dedup state is one entry per key inside the watermark
    horizon, evicted as event time advances — the property that lets
    an unbounded stream dedup in bounded memory."""
    global _stream_dedup_runs
    import shutil

    from stonkwhisperer_spark.streaming.jobs import (
        dedup_within_watermark,
        read_landing_stream,
    )

    src = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 1000).alias("dedup_key"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    scratch = scratch_dir("stonkw_stream_dedup_")
    try:
        landing = f"{scratch}/events"
        src.coalesce(1).write.parquet(landing)
        _stream_dedup_runs += 1
        name = f"stream_dedup_{_stream_dedup_runs}"
        stream = read_landing_stream(
            spark, landing, spark.read.parquet(landing).schema
        )
        deduped = dedup_within_watermark(
            stream, ["dedup_key"], "ts", delay="10 minutes"
        ).select("dedup_key")
        with _stream_shuffle_width(spark):
            q = (
                deduped.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", f"{scratch}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("streaming_dedup did not drain within 300s")
            finally:
                q.stop()
        return spark.table(name)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# streaming_sketch — incremental KMV maintenance over a document stream:
# the sketch layer (operators/sketches.py) composed with Structured
# Streaming. Because the KMV merge is EXACT (global K minima ⊆ union of
# per-batch K minima), the stream-maintained sketch equals the batch
# sketch bit-for-bit — so the oracle replays the whole thing as one
# relational pass.
# --------------------------------------------------------------------------
def _streaming_sketch_oracle() -> str:
    from stonkwhisperer_spark.functions.hashing import portable_hash64_sql
    from stonkwhisperer_spark.plans.queries_text import (
        _KMV_EST_SQL,
        _KMV_K,
        _SKETCH_TOKS_SQL,
    )

    return f"""
    WITH toks AS ({_SKETCH_TOKS_SQL}),
    h AS (SELECT DISTINCT source, {portable_hash64_sql('tok')} AS _h FROM toks),
    rk AS (
      SELECT source, _h,
             row_number() OVER (PARTITION BY source ORDER BY _h) AS rk
      FROM h
    ),
    sk AS (SELECT source, _h FROM rk WHERE rk <= {_KMV_K})
    SELECT source, count(*) AS n_mins, max(_h) AS kth_min,
           {_KMV_EST_SQL} AS est_distinct
    FROM sk GROUP BY source
    """


@register("streaming_sketch", oracle=_streaming_sketch_oracle())
def q_streaming_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary-cardinality KMV sketches maintained
    INCREMENTALLY over the corpus token stream: token shards arrive in
    N_BATCHES micro-batches (shared fixture landing, file source,
    maxFilesPerTrigger=1 — see plans/stream_fixtures.py), each batch's
    K-minimum set merges into the persisted sketch state inside
    ``foreachBatch`` (read previous state → union → re-take K minima →
    write next version), and the final state is estimated with the
    same :func:`kmv_estimate` as the batch path. The KMV merge is
    exact, so the drained stream's sketch is IDENTICAL to a
    from-scratch batch sketch — which is exactly what the DuckDB twin
    computes, hash-checking the entire incremental maintenance loop.

    This is the ingest-time shape of the sketch layer's promise: each
    arriving shard pays one small groupBy, the persisted state is K
    integers per source, and NO consumer ever re-reads the corpus.
    Scale: per-batch work is O(batch) with a (source, hash) shuffle
    inside the batch; the state union touches K·sources rows; state
    versions are tiny files (a production deployment would keep them
    in the txlog table format for time travel over sketch history)."""
    import os

    from stonkwhisperer_spark.operators.sketches import kmv_estimate, kmv_sketch
    from stonkwhisperer_spark.plans.queries_text import _KMV_K
    from stonkwhisperer_spark.plans.stream_fixtures import token_landing
    from stonkwhisperer_spark.streaming.jobs import read_landing_stream

    scratch = scratch_dir("stonkw_stream_sketch_")
    try:
        landing = token_landing(spark, sf_dir)
        schema = spark.read.parquet(landing).schema
        stream = read_landing_stream(spark, landing, schema, max_files_per_trigger=1)
        toks = stream.select("source", "tok")

        state_dir = f"{scratch}/state"
        state = {"v": 0}

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            sess = batch_df.sparkSession
            bsk = kmv_sketch(batch_df, "source", "tok", k=_KMV_K).select(
                "source", "_h"
            )
            if state["v"] > 0:
                prev = sess.read.parquet(f"{state_dir}/v{state['v']}")
                un = prev.unionByName(bsk).distinct()
            else:
                un = bsk
            from pyspark.sql.window import Window as W

            rk = F.row_number().over(W.partitionBy("source").orderBy("_h"))
            merged = (
                un.withColumn("_rk", rk)
                .filter(F.col("_rk") <= _KMV_K)
                .select("source", "_h")
            )
            merged.write.parquet(f"{state_dir}/v{state['v'] + 1}")
            state["v"] += 1

        with _stream_shuffle_width(spark):
            q = (
                toks.writeStream.foreachBatch(merge_batch)
                .option("checkpointLocation", f"{scratch}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("streaming_sketch did not drain within 300s")
            finally:
                q.stop()
        assert state["v"] >= 1 and os.path.isdir(f"{state_dir}/v{state['v']}")
        final = spark.read.parquet(f"{state_dir}/v{state['v']}")
        est = kmv_estimate(final, "source", k=_KMV_K)
        # The scratch state is deleted on return — materialize the
        # one-row-per-source estimate (bounded) before the cleanup.
        rows = bounded_collect(est, 20_000, "per-source KMV estimates")
        return spark.createDataFrame(rows, est.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# streaming_cms — the frequency-sketch mirror of streaming_sketch: a
# Count-Min table maintained incrementally over the same 4-micro-batch
# document stream. CMS merge is element-wise counter ADDITION — exact —
# so the drained stream's sketch equals the batch sketch bit-for-bit
# and the oracle replays the whole maintenance loop as one relational
# pass (same closed form as cms_token_topk).
# --------------------------------------------------------------------------
def _streaming_cms_oracle() -> str:
    from stonkwhisperer_spark.plans.queries_text import (
        _CMS_D,
        _SKETCH_TOKS_SQL,
        _cms_bucket_sql,
    )

    return f"""
    WITH toks AS ({_SKETCH_TOKS_SQL}),
    seeds AS (SELECT unnest(range({_CMS_D})) AS seed),
    cms AS (
      SELECT seed, {_cms_bucket_sql('seed', 'tok')} AS bucket,
             count(*) AS cnt
      FROM toks CROSS JOIN seeds GROUP BY 1, 2
    ),
    tc AS (SELECT tok, count(*) AS true_cnt FROM toks GROUP BY tok),
    est AS (
      SELECT tc.tok, tc.true_cnt, min(cms.cnt) AS est_cnt
      FROM tc CROSS JOIN seeds
      JOIN cms ON cms.seed = seeds.seed
              AND cms.bucket = {_cms_bucket_sql('seeds.seed', 'tc.tok')}
      GROUP BY 1, 2
    )
    SELECT tok, est_cnt, true_cnt FROM est
    ORDER BY est_cnt DESC, tok LIMIT 20
    """


@register("streaming_cms", oracle=_streaming_cms_oracle())
def q_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d×w Count-Min frequency table maintained INCREMENTALLY over
    the corpus token stream (N_BATCHES shards, shared fixture landing):
    each micro-batch builds its own CMS (map-side partial counts, one
    d·w-bounded shuffle) and foreachBatch folds it into the persisted
    state by per-(seed, bucket) counter ADDITION — the CMS merge is
    exact, so the drained stream's sketch is identical to a
    from-scratch batch sketch, and the DuckDB twin hash-checks the
    entire maintenance loop through the same top-20 point-estimate
    surface as cms_token_topk.

    With streaming_sketch (KMV) this completes the ingest-time story:
    cardinality AND frequency state maintained per arriving shard at
    O(shard) cost, each bounded at sketch size (d·w counters here),
    with no consumer ever re-reading the corpus. Scale: the state
    union touches 2·d·w rows per batch regardless of batch size; a
    production deployment keeps versions in the txlog format."""
    import os

    from stonkwhisperer_spark.operators.sketches import (
        cms_point_estimates,
        cms_table,
    )
    from stonkwhisperer_spark.plans.queries_text import _CMS_D, _CMS_W
    from stonkwhisperer_spark.plans.stream_fixtures import token_landing
    from stonkwhisperer_spark.streaming.jobs import read_landing_stream

    scratch = scratch_dir("stonkw_stream_cms_")
    try:
        landing = token_landing(spark, sf_dir)
        schema = spark.read.parquet(landing).schema
        stream = read_landing_stream(spark, landing, schema, max_files_per_trigger=1)
        toks = stream.select("tok")

        state_dir = f"{scratch}/state"
        state = {"v": 0}

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            sess = batch_df.sparkSession
            bcms = cms_table(batch_df, "tok", d=_CMS_D, width=_CMS_W)
            if state["v"] > 0:
                prev = sess.read.parquet(f"{state_dir}/v{state['v']}")
                merged = (
                    prev.unionByName(bcms)
                    .groupBy("seed", "bucket")
                    .agg(F.sum("cnt").alias("cnt"))
                )
            else:
                merged = bcms
            merged.write.parquet(f"{state_dir}/v{state['v'] + 1}")
            state["v"] += 1

        with _stream_shuffle_width(spark):
            q = (
                toks.writeStream.foreachBatch(merge_batch)
                .option("checkpointLocation", f"{scratch}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("streaming_cms did not drain within 300s")
            finally:
                q.stop()
        assert state["v"] >= 1 and os.path.isdir(f"{state_dir}/v{state['v']}")
        final = spark.read.parquet(f"{state_dir}/v{state['v']}")
        # Probe the stream-maintained state exactly as the batch path
        # probes its sketch: true counts from the full corpus (read
        # back from the shared token landing — same rows the stream
        # drained, no second tokenize pass), est_cnt from the persisted
        # counters.
        corpus_toks = spark.read.parquet(landing).select("tok")
        tc = corpus_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
        est = cms_point_estimates(tc, "tok", final, d=_CMS_D, width=_CMS_W)
        rows = bounded_collect(
            est.orderBy(F.desc("est_cnt"), "tok")
            .limit(20)
            .select("tok", "est_cnt", "true_cnt"),
            20,
            "CMS top-20 point estimates",
        )
        # Scratch state dies on return — the 20-row result is collected
        # first, same pattern as streaming_sketch.
        return spark.createDataFrame(
            rows, "tok string, est_cnt bigint, true_cnt bigint"
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# streaming_quantiles — the quantile summary maintained incrementally
# over the same 4-batch document stream: the sketch's merge is plain
# UNION (weights carry), so foreachBatch just appends each batch's B*k
# leaf rows to the persisted state. Completes the sketch x streaming
# matrix: KMV (streaming_sketch), CMS (streaming_cms), quantiles here.
# --------------------------------------------------------------------------
_SQNT_B = 16
_SQNT_K = 32


def _streaming_quantiles_oracle() -> str:
    from stonkwhisperer_spark.plans.stream_fixtures import N_BATCHES

    return f"""
    WITH v AS (
      SELECT doc_id % {N_BATCHES} AS batch, doc_id % {_SQNT_B} AS bucket,
             CAST(n_chars AS BIGINT) AS val
      FROM documents
    ),
    per AS (
      SELECT batch, bucket, list_sort(list(val)) AS arr, count(*) AS n_b
      FROM v GROUP BY batch, bucket
    ),
    picked AS (
      SELECT batch, bucket, i.range AS i, n_b,
             arr[CAST(((2 * i.range + 1) * n_b) // {2 * _SQNT_K} AS BIGINT) + 1] AS val
      FROM per, range({_SQNT_K}) i
    ),
    tot AS (SELECT count(*) AS n FROM v),
    cum AS (
      SELECT val, sum(n_b) OVER (ORDER BY val, batch, bucket, i) AS c
      FROM picked
    ),
    est AS (
      SELECT p.pct, min(val) AS est_value
      FROM cum, tot, (SELECT unnest([50, 90, 99]) AS pct) p
      WHERE c * 100 >= p.pct * {_SQNT_K} * tot.n
      GROUP BY p.pct
    )
    SELECT est.pct, est.est_value,
           (SELECT count(*) FROM v WHERE v.val <= est.est_value) AS true_rank,
           (SELECT n FROM tot) AS n_total
    FROM est
    """


@register("streaming_quantiles", oracle=_streaming_quantiles_oracle())
def q_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable quantile summary maintained INCREMENTALLY over a
    document stream (N_BATCHES shards, shared fixture landing): each
    micro-batch builds its own B*k leaf summary of doc length (one
    bucket-keyed shuffle per batch) and foreachBatch UNIONS it into
    the persisted state — that union IS the sketch's merge operation
    (weights carry; per-leaf rank errors sum to N/2k over the whole
    corpus), so the drained stream's estimates carry the same bound
    as a from-scratch batch summary. p50/p90/p99 of the final state
    are hash-checked against a DuckDB twin that replays the per-batch
    sampling exactly; true_rank sits alongside as the in-result
    accuracy check. (The estimate is order-invariant within equal
    values, so the estimator never needs to know which batch a leaf
    row came from.)

    Scale: O(batch) per arriving shard, state grows B*k rows per batch
    — a long-running deployment periodically re-compresses the state
    by re-sampling the summary itself (same operator, summary as
    input), keeping it bounded; versions live in the txlog format."""
    import os

    from stonkwhisperer_spark.operators.sketches import (
        quantile_estimates,
        quantile_summary,
    )
    from stonkwhisperer_spark.plans.stream_fixtures import docs_landing
    from stonkwhisperer_spark.streaming.jobs import read_landing_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scratch = scratch_dir("stonkw_stream_qnt_")
    try:
        landing = docs_landing(spark, sf_dir)
        schema = spark.read.parquet(landing).schema
        stream = read_landing_stream(spark, landing, schema, max_files_per_trigger=1)
        vals = stream.select(
            (F.col("doc_id") % _SQNT_B).alias("bucket"),
            F.col("n_chars").cast("bigint").alias("val"),
        )

        state_dir = f"{scratch}/state"
        state = {"v": 0}

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            sess = batch_df.sparkSession
            bsum = quantile_summary(batch_df, "val", F.col("bucket"), k=_SQNT_K)
            if state["v"] > 0:
                prev = sess.read.parquet(f"{state_dir}/v{state['v']}")
                merged = prev.unionByName(bsum)  # union IS the merge
            else:
                merged = bsum
            merged.write.parquet(f"{state_dir}/v{state['v'] + 1}")
            state["v"] += 1

        with _stream_shuffle_width(spark):
            q = (
                vals.writeStream.foreachBatch(merge_batch)
                .option("checkpointLocation", f"{scratch}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("streaming_quantiles did not drain in 300s")
            finally:
                q.stop()
        assert state["v"] >= 1 and os.path.isdir(f"{state_dir}/v{state['v']}")
        final = spark.read.parquet(f"{state_dir}/v{state['v']}")
        est = quantile_estimates(final, [50, 90, 99])
        corpus = docs.select(F.col("n_chars").cast("bigint").alias("val"))
        truth = (
            corpus.crossJoin(F.broadcast(est))
            .filter(F.col("val") <= F.col("est_value"))
            .groupBy("pct", "est_value")
            .agg(F.count("*").alias("true_rank"))
        )
        n_total = corpus.groupBy().agg(F.count("*").alias("n_total"))
        rows = bounded_collect(
            truth.crossJoin(F.broadcast(n_total))
            .select("pct", "est_value", "true_rank", "n_total"),
            100,
            "quantile-sketch percentile rows",
        )
        return spark.createDataFrame(
            rows, "pct int, est_value bigint, true_rank bigint, n_total bigint"
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# txlog_cdc_replay — the txlog family's HASH-CHECKED row: the CDC feed's
# replayed insert set is a deterministic relation DuckDB can recompute
# from the same seed data, so the driver gets a value-hash row for the
# table format (txlog_e2e stays the rows-only lifecycle exercise).
# --------------------------------------------------------------------------
_TXLOG_CDC_ORACLE = """
    SELECT doc_id, source,
           CASE WHEN doc_id < 80 THEN 2 ELSE 4 END AS _commit_version
    FROM documents
    WHERE doc_id >= 40 AND doc_id < 100
    """


def _build_cdc_table(spark: SparkSession, docs: DataFrame, target: str) -> int:
    """Four commits on a scratch txlog table: merge doc_id<40 (v1),
    merge doc_id<80 (v2), compaction (v3), merge doc_id<100 (v4).
    Returns v1 — the CDC subscription point. Shared seed for the two
    CDC surfaces (batch replay + streaming source) so both compare
    against the same DuckDB relation."""
    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        compact,
        merge_append,
    )

    # One parquet scan for the whole <=100-row working set; the three
    # merge sources then slice the checkpointed frame instead of each
    # re-scanning the documents table (same committed relations).
    seed = docs.filter(F.col("doc_id") < 100).localCheckpoint(eager=True)
    merge_append(spark, target, seed.filter(F.col("doc_id") < 40), ["doc_id"])
    v1 = _committed_version(target)
    merge_append(spark, target, seed.filter(F.col("doc_id") < 80), ["doc_id"])
    if compact(spark, target) == 0:
        raise AssertionError("compaction found nothing to rewrite")
    merge_append(spark, target, seed, ["doc_id"])
    return v1


_CDC_SEED: dict[str, tuple[str, int]] = {}
_REPL_SEED: dict[str, str] = {}


def _repl_seed_table(spark: SparkSession, sf_dir: str) -> str:
    """Per-process cached replication SOURCE table for
    txlog_stream_upsert: insert [0,40) → upsert [20,60) ``_u1`` →
    upsert [40,80) new image + insert [60,80) ``_u2`` → DELETE
    doc_id<10. The consumer only subscribes to the change feed (reads),
    so one build per (process, sf_dir) serves every run — same
    discipline as _cdc_seed_table, same atexit cleanup and build-once
    lock (stream_fixtures.build_once, ADVICE r10)."""
    from stonkwhisperer_spark.plans.stream_fixtures import build_once

    def _build() -> str:
        from stonkwhisperer_spark.plans.stream_fixtures import _ROOTS
        from stonkwhisperer_spark.sinks.writers import (
            delete_where,
            merge_append,
            merge_upsert,
        )

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
        root = scratch_dir("stonkw_fixture_repl_")
        _ROOTS.append(root)
        source = f"{root}/src"
        # One parquet scan for the <=80-row working set; the commit
        # sources slice the checkpointed frame (same relations).
        seed = docs.filter(F.col("doc_id") < 80).localCheckpoint(eager=True)
        merge_append(spark, source, seed.filter(F.col("doc_id") < 40), ["doc_id"])
        merge_upsert(
            spark,
            source,
            seed.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 60))
            .withColumn("source", F.concat(F.col("source"), F.lit("_u1"))),
            ["doc_id"],
        )
        merge_upsert(
            spark,
            source,
            seed.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80))
            .withColumn("source", F.concat(F.col("source"), F.lit("_u2"))),
            ["doc_id"],
        )
        delete_where(spark, source, F.col("doc_id") < 10)
        return source

    return build_once(_REPL_SEED, sf_dir, _build)


def _cdc_seed_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """Per-process cached _build_cdc_table result. Both CDC consumers
    (batch ``table_changes`` replay and the streaming source) only
    READ the seed table, so one build per (process, sf_dir) serves
    both — the same shared-ingest-fixture discipline as
    plans/stream_fixtures.py, whose atexit cleanup and build-once lock
    this reuses. Returns (target_path, v1 subscription point)."""
    from stonkwhisperer_spark.plans.stream_fixtures import build_once

    def _build() -> tuple[str, int]:
        from stonkwhisperer_spark.plans.stream_fixtures import _ROOTS

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
        root = scratch_dir("stonkw_fixture_cdc_")
        _ROOTS.append(root)
        target = f"{root}/t"
        v1 = _build_cdc_table(spark, docs, target)
        return (target, v1)

    return build_once(_CDC_SEED, sf_dir, _build)


@register("txlog_cdc_replay", oracle=_TXLOG_CDC_ORACLE)
def q_txlog_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replay under the value hash: build a txlog table with four
    commits — merge doc_id<40 (v1), merge doc_id<80 (v2), compaction
    (v3), merge doc_id<100 (v4) — then read ``table_changes`` from v1
    with commit attribution. The feed must replay EXACTLY the rows the
    later merges inserted ([40,80) tagged v2, [80,100) tagged v4),
    excluding both the v1 baseline and the compaction rewrite; the
    DuckDB twin recomputes that set from `documents` directly. A feed
    that leaked compaction rewrites (duplicating every pre-v3 row) or
    replayed anti-join survivors wrongly hash-fails here.

    Scale: the CDC read opens only the files the polled commits added —
    O(delta), never a table scan; commit attribution adds one scan node
    per commit in the window."""
    from stonkwhisperer_spark.sinks.writers import table_changes

    target, v1 = _cdc_seed_table(spark, sf_dir)
    cdc = table_changes(spark, target, from_version=v1, with_version=True)
    if cdc is None:
        raise AssertionError("CDC feed empty after two post-v1 merges")
    # Materialize: the shared seed is process-lived, but the returned
    # plan must not depend on fixture files (same pattern as the
    # scratch-table queries).
    rows = bounded_collect(
        cdc.select("doc_id", "source", "_commit_version"),
        2_000,
        "txlog seed-bounded CDC feed",
    )
    return spark.createDataFrame(
        rows, "doc_id bigint, source string, _commit_version bigint"
    )


# --------------------------------------------------------------------------
# txlog_cdc_update_replay — the UPDATE half of the CDC contract under the
# value hash: a MERGE-upsert commit replays as typed pre/post-image +
# insert rows whose DuckDB twin recomputes all three images from seed.
# --------------------------------------------------------------------------
@register(
    "txlog_cdc_update_replay",
    oracle="""
    SELECT doc_id, source,
           'update_preimage' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_version
    FROM documents WHERE doc_id >= 30 AND doc_id < 60
    UNION ALL
    SELECT doc_id, source || '_u' AS source,
           'update_postimage' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_version
    FROM documents WHERE doc_id >= 30 AND doc_id < 60
    UNION ALL
    SELECT doc_id, source || '_u' AS source,
           'insert' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_version
    FROM documents WHERE doc_id >= 60 AND doc_id < 90
    """,
)
def q_txlog_cdc_update_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN MATCHED UPDATE under the value hash: seed a txlog table with
    doc_id<60 (v1), then ``merge_upsert`` a batch covering [30,90) with
    rewritten source values — [30,60) matches and UPDATES in place
    (file-level copy-on-write), [60,90) inserts. ``table_changes`` from
    v1 must replay the upsert commit as Delta-CDF-typed rows: one
    ``update_preimage`` per matched key carrying the OLD value, one
    ``update_postimage`` carrying the NEW value, one ``insert`` per new
    key — and never the carried-over rows the rewrite copied into new
    files. The DuckDB twin recomputes all three images from the seed
    table; a feed that leaked carried rows, lost a pre-image, or swapped
    old/new values hash-fails.

    Scale: the upsert rewrites only the files owning matched keys
    (O(matched data)); the feed reads only the commit's change files —
    both O(delta) at 100 TB, the Delta MERGE + CDF contract
    (reference trigger_databricks_job.py:10 is exactly this shape)."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        merge_append,
        merge_upsert,
        table_changes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_upd_")
    try:
        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 60), ["doc_id"])
        v1 = _committed_version(target)
        batch = (
            docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 90))
            .withColumn("source", F.concat(F.col("source"), F.lit("_u")))
        )
        inserted, updated = merge_upsert(spark, target, batch, ["doc_id"])
        if (inserted, updated) != (30, 30):
            raise AssertionError(
                f"upsert split wrong: inserted={inserted} updated={updated}"
            )
        feed = table_changes(spark, target, from_version=v1, with_version=True)
        if feed is None:
            raise AssertionError("CDC feed empty after upsert commit")
        rows = bounded_collect(
            feed.select("doc_id", "source", "_change_type", "_commit_version"),
            2_000,
            "txlog seed-bounded CDC feed",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "doc_id bigint, source string, _change_type string, _commit_version bigint",
    )


# --------------------------------------------------------------------------
# txlog_cdc_delete_replay — the DELETE leg of the CDC contract under the
# value hash: a predicate delete commit replays as typed 'delete' rows,
# and the surviving snapshot is exactly the predicate's complement.
# --------------------------------------------------------------------------
@register(
    "txlog_cdc_delete_replay",
    oracle="""
    SELECT doc_id, source,
           'delete' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_version
    FROM documents WHERE doc_id >= 20 AND doc_id < 40
    """,
)
def q_txlog_cdc_delete_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE under the value hash: seed a txlog table with
    doc_id<60 (v1), then ``delete_where(doc_id BETWEEN 20 AND 39)``
    (v2) — file-level copy-on-write removes exactly the matching rows.
    ``table_changes`` from v1 must replay the delete commit as typed
    ``delete`` rows carrying the removed values (Delta CDF's delete
    leg), the snapshot must shrink to exactly the complement (asserted
    in-query), and the DuckDB twin recomputes the deleted set from the
    seed table. With upsert (txlog_cdc_update_replay) and insert
    (txlog_cdc_replay), this completes the typed-CDC MERGE contract.

    Scale: matched-file discovery + rewrite is O(matched data); a
    delete on a zone-mapped column opens only the files whose stats
    admit the predicate."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        delete_where,
        merge_append,
        read_committed,
        table_changes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_del_")
    try:
        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 60), ["doc_id"])
        v1 = _committed_version(target)
        n = delete_where(
            spark, target, F.col("doc_id").between(20, 39)
        )
        if n != 20:
            raise AssertionError(f"delete removed {n} rows, expected 20")
        if read_committed(spark, target).count() != 40:
            raise AssertionError("snapshot is not the predicate complement")
        feed = table_changes(spark, target, from_version=v1, with_version=True)
        if feed is None:
            raise AssertionError("CDC feed empty after delete commit")
        rows = bounded_collect(
            feed.select("doc_id", "source", "_change_type", "_commit_version"),
            2_000,
            "txlog seed-bounded CDC feed",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "doc_id bigint, source string, _change_type string, _commit_version bigint",
    )


# --------------------------------------------------------------------------
# txlog_dv_replay — merge-on-read DELETE (deletion vectors) under the value
# hash: a point delete masks rows via a (file, row-index) kill list without
# touching any data file; the snapshot, the typed CDC feed, and the
# re-insert path must all agree with a DuckDB twin recomputed from seed.
# --------------------------------------------------------------------------
@register(
    "txlog_dv_replay",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE doc_id < 80 AND doc_id % 7 <> 0
    UNION ALL
    SELECT doc_id, source || '_r' AS source FROM documents
    WHERE doc_id < 80 AND doc_id % 7 = 0 AND doc_id < 21
    """,
)
def q_txlog_dv_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vectors under the value hash: seed doc_id<80 in two
    commits (two data files), then ``delete_where_dv(doc_id % 7 = 0)``
    — a NON-CONTIGUOUS point delete, the shape where copy-on-write is
    worst (every file owns matches) and merge-on-read wins. The commit
    must write only a kill list: both data files stay byte-identical
    (asserted on mtimes in-query), the CDC feed replays typed
    ``delete`` rows (count asserted), and the snapshot masks exactly
    the matched rows. Then ``merge_upsert`` re-inserts three of the
    deleted keys with rewritten values — masked rows are NOT part of
    the table, so they must come back as INSERTS (split asserted). The
    DuckDB twin recomputes the final snapshot from seed: the
    complement of the delete predicate plus the three re-inserted
    keys.

    Scale: deleting k scattered rows from a 100 TB table costs O(k)
    write I/O (the kill list) instead of rewriting every matched file;
    readers pay one broadcast hash anti-join keyed on (file,
    row-index) until the next compaction physically purges the mask —
    Delta's deletion-vector trade, verified end-to-end here."""
    import os as _os
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        committed_files,
        delete_where_dv,
        merge_append,
        merge_upsert,
        read_committed,
        table_changes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_dv_")
    try:
        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 40), ["doc_id"])
        merge_append(
            spark,
            target,
            docs.filter(F.col("doc_id").between(40, 79)),
            ["doc_id"],
        )
        v_seed = _committed_version(target)
        mtimes = {
            f: _os.path.getmtime(_os.path.join(target, f))
            for f in committed_files(target)
        }
        n = delete_where_dv(spark, target, F.col("doc_id") % 7 == 0)
        if n != 12:  # 0,7,...,77
            raise AssertionError(f"dv delete masked {n} rows, expected 12")
        after = {
            f: _os.path.getmtime(_os.path.join(target, f))
            for f in committed_files(target)
        }
        if after != mtimes:
            raise AssertionError("merge-on-read delete touched data files")
        feed = table_changes(spark, target, from_version=v_seed)
        n_cdc = feed.filter(F.col("_change_type") == "delete").count()
        if n_cdc != 12:
            raise AssertionError(f"CDC replayed {n_cdc} delete rows, expected 12")
        batch = (
            docs.filter(F.col("doc_id").isin(0, 7, 14))
            .withColumn("source", F.concat(F.col("source"), F.lit("_r")))
        )
        inserted, updated = merge_upsert(spark, target, batch, ["doc_id"])
        if (inserted, updated) != (3, 0):
            raise AssertionError(
                f"masked keys must re-insert: inserted={inserted} updated={updated}"
            )
        rows = bounded_collect(
            read_committed(spark, target).select("doc_id", "source"),
            2_000,
            "txlog seed-bounded end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, source string")


# --------------------------------------------------------------------------
# txlog_update_replay — UPDATE WHERE under the value hash, BOTH physical
# strategies: copy-on-write (rewrite matched files) and merge-on-read
# (DV mask + post-image file) must produce identical logical results.
# --------------------------------------------------------------------------
@register(
    "txlog_update_replay",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE doc_id >= 20 AND doc_id < 40
    UNION ALL
    SELECT doc_id, source || '_w' AS source FROM documents WHERE doc_id < 20
    UNION ALL
    SELECT doc_id, source || '_m' AS source FROM documents
    WHERE doc_id >= 40 AND doc_id < 60
    """,
)
def q_txlog_update_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UPDATE SET ... WHERE`` both ways: seed doc_id<60 in three
    files, then (a) copy-on-write update doc_id<20 (only matched files
    rewritten; SET sees the pre-image) and (b) MERGE-ON-READ update
    [40,60) via ``update_where_dv`` — one commit masks the pre-images
    with a deletion-vector kill list and adds only the post-image file,
    leaving every pre-existing data file byte-untouched (asserted on
    mtimes in-query). Both emit update_preimage/update_postimage CDC
    pairs (counts asserted); the DuckDB twin recomputes the final
    snapshot, so a SET applied to the wrong rows, a resurrected
    pre-image, or a lost post-image hash-fails.

    Scale: CoW costs O(matched files); MoR costs O(matched ROWS) —
    the cheap-update path for scattered updates on a 100 TB table,
    with the next compaction folding masks and post-images back into
    plain files."""
    import os as _os
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        committed_files,
        merge_append,
        read_committed,
        table_changes,
        update_where,
        update_where_dv,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_upd2_")
    try:
        target = f"{scratch}/t"
        for lo, hi in ((0, 20), (20, 40), (40, 60)):
            merge_append(
                spark,
                target,
                docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
                .coalesce(1),
                ["doc_id"],
            )
        v_seed = _committed_version(target)
        n_cow = update_where(
            spark,
            target,
            {"source": F.concat(F.col("source"), F.lit("_w"))},
            F.col("doc_id") < 20,
        )
        if n_cow != 20:
            raise AssertionError(f"CoW update touched {n_cow} rows, expected 20")
        mtimes = {
            f: _os.path.getmtime(_os.path.join(target, f))
            for f in committed_files(target)
        }
        n_mor = update_where_dv(
            spark,
            target,
            {"source": F.concat(F.col("source"), F.lit("_m"))},
            F.col("doc_id").between(40, 59),
        )
        if n_mor != 20:
            raise AssertionError(f"MoR update touched {n_mor} rows, expected 20")
        still = {
            f: _os.path.getmtime(_os.path.join(target, f))
            for f in committed_files(target)
            if f in mtimes
        }
        if still != mtimes:
            raise AssertionError("merge-on-read update rewrote existing files")
        feed = table_changes(spark, target, from_version=v_seed)
        pre = feed.filter(F.col("_change_type") == "update_preimage").count()
        post = feed.filter(F.col("_change_type") == "update_postimage").count()
        if (pre, post) != (40, 40):
            raise AssertionError(f"CDC pairs wrong: pre={pre} post={post}")
        rows = bounded_collect(
            read_committed(spark, target).select("doc_id", "source"),
            2_000,
            "txlog seed-bounded end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, source string")


# --------------------------------------------------------------------------
# txlog_type_widening — safe type evolution under the value hash: a wider
# batch widens the column, old narrow files upcast at the scan.
# --------------------------------------------------------------------------
@register(
    "txlog_type_widening",
    oracle="""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents WHERE doc_id < 50
    UNION ALL
    SELECT doc_id, CAST(n_chars + 3000000000 AS BIGINT) AS n_chars
    FROM documents WHERE doc_id >= 50 AND doc_id < 100
    """,
)
def q_txlog_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening (Delta 3.2 / Spark 4 parquet upcast): seed
    doc_id<50 with ``n_chars`` as INT (v1), then append [50,100) with
    values above 2^31 as BIGINT — the write must WIDEN the declared
    type instead of failing, old int files must upcast at the scan
    (Spark 4's vectorized reader reads int32 under LongType — no
    rewrite of existing data, the entire point at 100 TB), and a
    post-widening INT batch must still be accepted at the wide type
    (asserted in-query along with the declared schema). An
    incompatible re-type (string) must still fail the writer
    (asserted). The DuckDB twin recomputes both halves with explicit
    casts."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        read_committed,
        table_schema,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scratch = scratch_dir("stonkw_txlog_widen_")
    try:
        target = f"{scratch}/t"
        merge_append(
            spark,
            target,
            docs.filter(F.col("doc_id") < 50).withColumn(
                "n_chars", F.col("n_chars").cast("int")
            ),
            ["doc_id"],
        )
        if table_schema(target)["n_chars"].dataType.typeName() != "integer":
            raise AssertionError("seed should declare n_chars as int")
        merge_append(
            spark,
            target,
            docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
            .withColumn("n_chars", (F.col("n_chars") + 3_000_000_000).cast("bigint")),
            ["doc_id"],
        )
        if table_schema(target)["n_chars"].dataType.typeName() != "long":
            raise AssertionError("wide batch must widen the declared type")
        try:
            merge_append(
                spark,
                target,
                docs.filter(F.col("doc_id") == 0)
                .withColumn("doc_id", F.lit(10_000_000).cast("bigint"))
                .withColumn("n_chars", F.lit("oops")),
                ["doc_id"],
            )
            raise AssertionError("incompatible re-type must fail the writer")
        except ValueError:
            pass
        rows = bounded_collect(
            read_committed(spark, target).select("doc_id", "n_chars"),
            2_000,
            "txlog seed-bounded end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, n_chars bigint")


# --------------------------------------------------------------------------
# txlog_checkpoint_replay — log checkpointing under the value hash: after
# a checkpoint + manifest vacuum, every surface replays from ONE file.
# --------------------------------------------------------------------------
@register(
    "txlog_checkpoint_replay",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id >= 20 AND doc_id < 40 THEN source || '_u'
                ELSE source END AS source
    FROM documents WHERE doc_id < 70 AND doc_id >= 10
    """,
)
def q_txlog_checkpoint_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log checkpointing (Delta ``_last_checkpoint``): build a
    5-commit table — two appends, an upsert on [20,40), a delete of
    doc_id<10, a compaction — then ``checkpoint()`` and ``vacuum_log()``
    so every covered manifest file is PHYSICALLY GONE (asserted). The
    snapshot, a pre-delete time travel, and the change feed must all
    replay from the checkpoint file alone, and a post-checkpoint append
    must land on the preserved version sequence (asserted). The DuckDB
    twin recomputes the final state from seed.

    Scale: this is the metadata lever for long-lived tables — a
    100 TB table ingesting every 5 minutes accrues ~100k commits/year;
    without checkpoints EVERY operation reparses every manifest
    (O(#commits) small reads on object storage, the classic Delta
    listing bottleneck); with them it's one checkpoint read + the
    tail."""
    import os as _os
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        _txlog_path,
        checkpoint,
        compact,
        delete_where,
        merge_append,
        merge_upsert,
        read_committed,
        table_changes,
        vacuum_log,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_ckpt_")
    try:
        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 30), ["doc_id"])
        merge_append(
            spark, target,
            docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
            ["doc_id"],
        )
        merge_upsert(
            spark, target,
            docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40))
            .withColumn("source", F.concat(F.col("source"), F.lit("_u"))),
            ["doc_id"],
        )
        delete_where(spark, target, F.col("doc_id") < 10)
        compact(spark, target)
        v = checkpoint(target)
        removed = vacuum_log(target)
        if len(removed) != v:
            raise AssertionError(
                f"vacuum_log reclaimed {len(removed)} of {v} covered manifests"
            )
        left = [
            f
            for f in _os.listdir(_txlog_path(target))
            if f.endswith(".json") and not f.startswith("_")
        ]
        if left:
            raise AssertionError(f"covered manifests survived: {left}")
        if read_committed(spark, target, version=3).count() != 60:
            raise AssertionError("pre-delete time travel broke after vacuum_log")
        if table_changes(spark, target, from_version=3).count() != 10:
            raise AssertionError("change feed broke after vacuum_log")
        merge_append(
            spark, target,
            docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 70)),
            ["doc_id"],
        )
        if _committed_version(target) != v + 1:
            raise AssertionError("post-checkpoint commit broke the version chain")
        rows = bounded_collect(
            read_committed(spark, target).select("doc_id", "source"),
            2_000,
            "txlog seed-bounded end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, source string")


# --------------------------------------------------------------------------
# txlog_bloom_lookup — bloom-filter file index under the value hash: point
# lookups on a scattered high-cardinality key open only the files whose
# filter admits the value (zone maps cannot prune this layout at all).
# --------------------------------------------------------------------------
@register(
    "txlog_bloom_lookup",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE doc_id IN (17, 23, 42)
    """,
)
def q_txlog_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom file index (Databricks BLOOMFILTER INDEX shape): seed
    doc_id<200 as four files BY RESIDUE CLASS — every file spans the
    full id range, so zone-map skipping keeps all of them (asserted:
    files_read == files_total on the range path) — then declare
    ``doc_id`` bloom-indexed and point-look-up three ids via
    ``read_committed_point``. Each lookup must open at most 2 of 4
    files (asserted in-query; the first merge already indexed its file,
    as a single merge key indexes itself, so the second is room for a
    false positive), and the three hits union to exactly the oracle's
    rows.

    Scale: this is the needle-in-100-TB read — GDPR subject lookups,
    id debugging — where min/max pruning is useless on unsorted keys;
    ~10 bits/row at write time buys opening O(matching files) instead
    of O(table). The skip decision is driver-side manifest metadata,
    no task scheduled for excluded files."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        read_committed_point,
        read_committed_pruned,
        set_bloom_columns,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_bloom_")
    try:
        target = f"{scratch}/t"
        scattered = docs.filter(F.col("doc_id") < 200)
        merge_append(
            spark, target,
            scattered.filter(F.col("doc_id") % 4 == 0).coalesce(1), ["doc_id"],
        )
        set_bloom_columns(target, ["doc_id"])
        for r in (1, 2, 3):
            merge_append(
                spark, target,
                scattered.filter(F.col("doc_id") % 4 == r).coalesce(1),
                ["doc_id"],
            )
        _, zm_read, zm_total = read_committed_pruned(spark, target, "doc_id", 17, 17)
        if zm_read != zm_total:
            raise AssertionError(
                "layout error: zone maps should be unable to prune this table"
            )
        rows = []
        for v in (17, 23, 42):
            hit, n_read, n_total = read_committed_point(
                spark, target, "doc_id", v
            )
            if n_total != 4 or n_read > 2:
                raise AssertionError(
                    f"bloom lookup for {v} opened {n_read}/{n_total} files"
                )
            rows.extend(
                bounded_collect(
                    hit.select("doc_id", "source"), 100, "bloom point lookup hit"
                )
            )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, source string")


# --------------------------------------------------------------------------
# txlog_generated — GENERATED ALWAYS AS under the value hash: a derived
# date column is computed for every write that omits it and validated for
# every write that provides it; the oracle recomputes the derivation.
# --------------------------------------------------------------------------
@register(
    "txlog_generated",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date,
           count(*) AS n_events
    FROM events WHERE event_id < 2000
    GROUP BY CAST(ts AS DATE)
    """,
)
def q_txlog_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated columns (Delta ``GENERATED ALWAYS AS``): seed events
    with an honestly-computed ``event_date = to_date(ts)``, record the
    definition in the log, then append two batches WITHOUT the column —
    the writer derives it — and attempt one batch with a WRONG value —
    rejected whole before any write (asserted). The final per-date
    counts must equal the oracle's recomputation from the raw events:
    if the writer ever derived or accepted a wrong date, a count moves
    between groups and the hash fails.

    Scale: the derivation is one codegen'd expression per write batch
    — O(batch); its value is CONSISTENCY (every producer derives the
    partition key the same way, so date-pruned reads are trustworthy),
    which no amount of per-job discipline guarantees at 100 TB."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        add_generated_column,
        merge_append,
        read_committed,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    scratch = scratch_dir("stonkw_txlog_gen_")
    try:
        target = f"{scratch}/t"
        merge_append(
            spark,
            target,
            ev.filter(F.col("event_id") < 100).withColumn(
                "event_date", F.to_date("ts")
            ),
            ["event_id"],
        )
        add_generated_column(target, "event_date", "to_date(ts)")
        for lo, hi in ((100, 1000), (1000, 2000)):
            merge_append(
                spark,
                target,
                ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)),
                ["event_id"],
            )
        lying = (
            ev.filter(F.col("event_id") == 0)  # exists at every sf
            .withColumn("event_id", F.lit(10_000_000).cast("bigint"))
            .withColumn("event_date", F.to_date(F.lit("1999-01-01")))
        )
        try:
            merge_append(spark, target, lying, ["event_id"])
            raise AssertionError("wrong generated value must be rejected")
        except ValueError:
            pass
        rows = bounded_collect(
            read_committed(spark, target)
            .groupBy("event_date")
            .agg(F.count(F.lit(1)).alias("n_events")),
            2_000,
            "per-date rollup of the seed-bounded table",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "event_date date, n_events bigint")


# --------------------------------------------------------------------------
# txlog_rename_replay — column mapping under the value hash: RENAME COLUMN
# as a metadata-only commit; reads, writes, and CDC all speak the new name
# while every data file keeps the original physical schema.
# --------------------------------------------------------------------------
@register(
    "txlog_rename_replay",
    oracle="""
    SELECT doc_id, source AS origin FROM documents
    WHERE doc_id < 40 AND doc_id % 5 <> 0
    UNION ALL
    SELECT doc_id, source || '_n' AS origin FROM documents
    WHERE doc_id < 60 AND doc_id % 5 = 0
    """,
)
def q_txlog_rename_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RENAME COLUMN via column mapping: seed doc_id<40 (source), then
    ``rename_column(source → origin)`` — asserted in-query to touch ZERO
    data files (mtimes) — then merge-upsert a batch ADDRESSED BY THE NEW
    NAME: multiples of 5 under 60 with rewritten values, which must
    update in place / insert under the mapping (split asserted). The
    final snapshot reads logically as (doc_id, origin) with every data
    file still physically storing 'source' (footer-asserted); the
    DuckDB twin recomputes the merged state from seed. Time travel to
    the pre-rename version must still show 'source' (asserted).

    Scale: the rename is O(1) metadata — the alternative at 100 TB is
    a full-table rewrite; the logical/physical translation is a
    zero-cost select-alias at plan build time, never a data pass."""
    import os as _os
    import shutil

    import pyarrow.parquet as _pq

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        committed_files,
        merge_append,
        merge_upsert,
        read_committed,
        rename_column,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_ren_")
    try:
        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 40), ["doc_id"])
        v1 = _committed_version(target)
        mtimes = {
            f: _os.path.getmtime(_os.path.join(target, f))
            for f in committed_files(target)
        }
        rename_column(target, "source", "origin")
        after = {
            f: _os.path.getmtime(_os.path.join(target, f))
            for f in committed_files(target)
        }
        if after != mtimes:
            raise AssertionError("rename touched data files")
        batch = (
            docs.filter((F.col("doc_id") < 60) & (F.col("doc_id") % 5 == 0))
            .select(
                "doc_id",
                F.concat(F.col("source"), F.lit("_n")).alias("origin"),
            )
        )
        inserted, updated = merge_upsert(spark, target, batch, ["doc_id"])
        if (inserted, updated) != (4, 8):  # 40,45,50,55 insert; 0..35 step5 update
            raise AssertionError(
                f"post-rename merge split wrong: ins={inserted} upd={updated}"
            )
        if read_committed(spark, target, version=v1).columns != ["doc_id", "source"]:
            raise AssertionError("time travel before the rename lost the old name")
        for f in committed_files(target):
            names = _pq.ParquetFile(_os.path.join(target, f)).schema_arrow.names
            if "origin" in names or "source" not in names:
                raise AssertionError(f"file {f} does not store the physical name")
        rows = bounded_collect(
            read_committed(spark, target).select("doc_id", "origin"),
            2_000,
            "txlog seed-bounded end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, origin string")


# --------------------------------------------------------------------------
# txlog_replace_where — Delta's replaceWhere under the value hash: one
# atomic commit swaps a predicate-scoped region for its recomputation.
# --------------------------------------------------------------------------
@register(
    "txlog_replace_where",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE doc_id < 20 OR (doc_id >= 40 AND doc_id < 60)
    UNION ALL
    SELECT doc_id, source || '_w' AS source FROM documents
    WHERE doc_id >= 20 AND doc_id < 30
    """,
)
def q_txlog_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-scoped atomic overwrite (``overwrite_where`` =
    ``replaceWhere``): seed doc_id<60, then swap the [20,40) region for
    a RECOMPUTED batch covering only [20,30) with rewritten values —
    one commit, so no reader can observe the region deleted but not yet
    refilled (the gap a delete-then-append pair exposes). Asserted
    in-query: the swap counts (10 in, 20 out), the re-run being
    idempotent (same final state), and the out-of-region guard
    (a stray batch row raises before any write). The DuckDB twin
    recomputes the final snapshot from seed.

    Scale: the day/partition-reprocessing write path — O(replaced
    region) copy-on-write plus the batch append; with the region
    predicate on a partition or zone-mapped column, file discovery
    opens only the region's files."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        overwrite_where,
        read_committed,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_rw_")
    try:
        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 60), ["doc_id"])
        batch = (
            docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 30))
            .withColumn("source", F.concat(F.col("source"), F.lit("_w")))
        )
        cond = F.col("doc_id").between(20, 39)
        inserted, deleted = overwrite_where(spark, target, batch, cond)
        if (inserted, deleted) != (10, 20):
            raise AssertionError(
                f"replaceWhere swap wrong: inserted={inserted} deleted={deleted}"
            )
        inserted2, deleted2 = overwrite_where(spark, target, batch, cond)
        if (inserted2, deleted2) != (10, 10):
            raise AssertionError("replaceWhere re-run is not idempotent")
        stray = docs.filter(F.col("doc_id") < 5)
        try:
            overwrite_where(spark, target, stray, cond)
            raise AssertionError("out-of-region batch row must be rejected")
        except ValueError:
            pass
        rows = bounded_collect(
            read_committed(spark, target).select("doc_id", "source"),
            2_000,
            "txlog seed-bounded end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, source string")


# --------------------------------------------------------------------------
# txlog_merge_sync_replay — the FULL three-clause MERGE under the value
# hash: one commit updates matched keys, inserts new keys, and deletes
# target keys absent from the source; the typed CDC feed carries all four
# row kinds and the DuckDB twin recomputes every image from seed.
# --------------------------------------------------------------------------
@register(
    "txlog_merge_sync_replay",
    oracle="""
    SELECT doc_id, source, 'update_preimage' AS _change_type
    FROM documents WHERE doc_id >= 30 AND doc_id < 60
    UNION ALL
    SELECT doc_id, source || '_s' AS source, 'update_postimage' AS _change_type
    FROM documents WHERE doc_id >= 30 AND doc_id < 60
    UNION ALL
    SELECT doc_id, source || '_s' AS source, 'insert' AS _change_type
    FROM documents WHERE doc_id >= 60 AND doc_id < 90
    UNION ALL
    SELECT doc_id, source, 'delete' AS _change_type
    FROM documents WHERE doc_id < 30
    """,
)
def q_txlog_merge_sync_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN NOT MATCHED BY SOURCE THEN DELETE — the third MERGE clause
    (``merge_sync``): seed doc_id<60, then sync against a snapshot
    covering [30,90) with rewritten values. ONE atomic commit must
    update [30,60) in place, insert [60,90), and DELETE [0,30) — the
    keys the source no longer has (the dimension-sync contract). The
    change feed replays the commit as all four Delta-CDF row kinds;
    the DuckDB twin recomputes each image from seed, so a sync that
    missed stale rows, double-counted them, or leaked carried rows
    hash-fails. The final snapshot is asserted in-query to equal the
    batch exactly.

    Scale: stale-row discovery is inherently O(target) — same as
    Delta's NOT MATCHED BY SOURCE — but only files owning a matched
    OR stale row are rewritten, and a ``delete_condition`` scopes
    partial-snapshot syncs to their slice."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        merge_append,
        merge_sync,
        read_committed,
        table_changes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_sync_")
    try:
        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 60), ["doc_id"])
        v1 = _committed_version(target)
        batch = (
            docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 90))
            .withColumn("source", F.concat(F.col("source"), F.lit("_s")))
        )
        inserted, updated, deleted = merge_sync(spark, target, batch, ["doc_id"])
        if (inserted, updated, deleted) != (30, 30, 30):
            raise AssertionError(
                f"sync split wrong: ins={inserted} upd={updated} del={deleted}"
            )
        snap = read_committed(spark, target)
        if snap.count() != 60 or snap.join(
            batch, ["doc_id", "source"], "left_anti"
        ).count():
            raise AssertionError("synced table does not equal the source snapshot")
        feed = table_changes(spark, target, from_version=v1)
        rows = bounded_collect(
            feed.select("doc_id", "source", "_change_type"),
            2_000,
            "txlog seed-bounded CDC feed",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id bigint, source string, _change_type string"
    )


# --------------------------------------------------------------------------
# txlog_stream_upsert — CDF-to-replica streaming replication under the
# value hash: tail one txlog table's change feed and MERGE the latest
# image per key into a second table, exactly-once via the txn ledger.
# --------------------------------------------------------------------------
@register(
    "txlog_stream_upsert",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE doc_id >= 10 AND doc_id < 20
    UNION ALL
    SELECT doc_id, source || '_u1' AS source FROM documents
    WHERE doc_id >= 20 AND doc_id < 40
    UNION ALL
    SELECT doc_id, source || '_u2' AS source FROM documents
    WHERE doc_id >= 40 AND doc_id < 80
    """,
)
def q_txlog_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC replication (``start_cdc_apply_stream``): build a
    source table in four commits — insert [0,40), upsert [20,60)
    ``_u1``, upsert [40,60) new image + insert [60,80) ``_u2``, DELETE
    doc_id<10 — then stream its typed change feed into a fresh replica
    via foreachBatch + ``merge_cdc_txn``. The single drained
    micro-batch spans ALL four commits, so keys [40,60) carry two
    post-images and keys [0,10) an insert THEN a delete; the apply
    step must reduce to the newest change per key by
    ``_commit_version`` (pre-images ignored) and apply deletes as
    deletes — a consumer that ignored delete rows would resurrect
    [0,10) in the replica. Then the whole stream is RE-RUN over a
    fresh checkpoint: the replayed epoch finds its (app, epoch) marker
    in the replica's ledger and is a structural no-op — with upserts,
    key-idempotence alone could NOT guarantee this (a replayed old
    batch would overwrite newer values); the txn ledger can. The
    DuckDB twin recomputes the replica from seed.

    Scale: O(changed rows) per poll on the source, one bounded
    key-shuffle for the reduction, O(matched files) rewrite on the
    replica — continuous table replication priced at the delta, the
    CDF consumer pattern Delta documents for 100 TB tables."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import read_committed
    from stonkwhisperer_spark.sources.txlog_stream import TxlogChangeFeedDataSource
    from stonkwhisperer_spark.streaming.jobs import start_cdc_apply_stream

    try:
        spark.dataSource.register(TxlogChangeFeedDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    scratch = scratch_dir("stonkw_txlog_repl_")
    try:
        # Shared read-only source seed (the _cdc_seed_table discipline):
        # the stream only SUBSCRIBES to this table; the replica,
        # checkpoints and txn ledger below stay per-query scratch.
        source = _repl_seed_table(spark, sf_dir)
        replica = f"{scratch}/replica"

        from stonkwhisperer_spark.streaming.jobs import (
            enable_available_now_wrapper,
            run_available_now,
        )

        enable_available_now_wrapper(spark)

        def run(ckpt: str) -> None:
            # Unratelimited subscription → native availableNow via the
            # wrapper; run_available_now asserts the drain covered the
            # head (drain_until_caught_up remains the rate-limited path).
            with _stream_shuffle_width(spark):
                q = start_cdc_apply_stream(
                    spark,
                    source,
                    replica,
                    ["doc_id"],
                    "replicator",
                    ckpt,
                )
                run_available_now(q, source, timeout_sec=300)

        run(f"{scratch}/ckpt1")
        first = read_committed(spark, replica).count()
        if first != 70:
            raise AssertionError(f"replica has {first} rows, expected 70")
        run(f"{scratch}/ckpt2")  # full replay, fresh checkpoint
        after = read_committed(spark, replica)
        if after.count() != 70:
            raise AssertionError("replayed stream changed the replica")
        rows = bounded_collect(
            after.select("doc_id", "source"),
            2_000,
            "txlog seed-bounded replica state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, source string")


# --------------------------------------------------------------------------
# txlog_stream_cdc — the SAME change feed consumed through readStream:
# the txlog as a Spark 4 streaming DATA SOURCE (sources/txlog_stream.py),
# offsets = commit versions, drained availableNow. Same oracle as the
# batch replay — the two consumption paths must agree to the value hash.
# --------------------------------------------------------------------------
_txlog_stream_runs = 0


@register("txlog_stream_cdc", oracle=_TXLOG_CDC_ORACLE)
def q_txlog_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC consumed BY THE STREAMING PATH: the same four-commit table as
    txlog_cdc_replay, subscribed strictly after v1 via
    ``readStream.format("stonkw_txlog_cdc")`` — a full Python
    DataSourceStreamReader whose offsets are txlog commit versions,
    partition planning is one InputPartition per committed file, and the
    executor-side read yields Arrow RecordBatches tagged with
    ``_commit_version``. Drained availableNow into an append-mode memory
    sink and hash-compared to the identical DuckDB relation, proving
    batch replay and streaming subscription agree row-for-row (and that
    compaction rewrites stay invisible to subscribers). Drained under
    TRUE ``Trigger.AvailableNow`` semantics via Spark's
    ``triggerAvailableNowWrapper`` (see
    ``streaming.jobs.enable_available_now_wrapper``): the wrapper
    captures the head commit version at start, the single batch covers
    exactly that backlog, and ``run_available_now`` asserts coverage.
    A live tail would run a processingTime trigger instead.

    Scale: offset resolution is O(#commits) driver-side metadata; the
    data plane schedules exactly the files the polled commits added —
    the property that makes a 100 TB merge-append table tailable."""
    global _txlog_stream_runs
    import shutil

    from stonkwhisperer_spark.sources.txlog_stream import TxlogChangeFeedDataSource

    try:
        spark.dataSource.register(TxlogChangeFeedDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    scratch = scratch_dir("stonkw_txlog_stream_")
    try:
        target, v1 = _cdc_seed_table(spark, sf_dir)
        _txlog_stream_runs += 1
        name = f"txlog_stream_{_txlog_stream_runs}"
        feed = (
            spark.readStream.format("stonkw_txlog_cdc")
            .option("path", target)
            # inclusive startingVersion (Delta semantics): the feed
            # must start strictly AFTER the v1 baseline merge.
            .option("startingVersion", v1 + 1)
            .load()
        )
        from stonkwhisperer_spark.streaming.jobs import (
            enable_available_now_wrapper,
            run_available_now,
        )

        enable_available_now_wrapper(spark)
        with _stream_shuffle_width(spark):
            q = (
                feed.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", f"{scratch}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            # Native availableNow via the wrapper (unratelimited
            # subscription → the single captured-target batch covers the
            # whole backlog); run_available_now asserts full coverage.
            run_available_now(q, target, timeout_sec=300)
        rows = bounded_collect(
            spark.table(name).select("doc_id", "source", "_commit_version"),
            2_000,
            "txlog seed-bounded CDC drain",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id bigint, source string, _commit_version bigint"
    )


# --------------------------------------------------------------------------
# txlog_e2e — the parquet transaction log's full lifecycle as a
# registered surface: merge → racing merge → compaction → CDC read →
# time travel → vacuum, with every invariant asserted in-line. Rows-only
# by design (side-effecting writes; the relation is the audit row).
# --------------------------------------------------------------------------
@register("txlog_e2e", oracle=None)
def q_txlog_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercise the K2 table format end to end against a scratch
    target: (1) two sequential merges insert disjoint key sets; (2) a
    fault-injected RACING merge loses the CAS and retries to a no-op;
    (3) compaction swaps the small files atomically; (4) the CDC feed
    replays exactly the second merge's rows (never the compaction
    rewrite); (5) time travel reproduces the pre-compaction snapshot;
    (6) vacuum reclaims exactly the replaced files. Raises on any
    violated invariant — the returned row is the audit trail.

    Scale: every step is O(1) driver-side log I/O plus the data writes
    themselves; nothing here scans the table beyond the committed file
    list."""
    import os
    import shutil
    import time

    from stonkwhisperer_spark.sinks.writers import (
        _STALE_S,
        _committed_version,
        _table_files,
        committed_files,
        compact,
        merge_append,
        read_committed,
        table_changes,
        vacuum_orphans,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_")
    try:
        target = f"{scratch}/t"
        b1 = docs.filter(F.col("doc_id") < 40)
        b2 = docs.filter(F.col("doc_id") < 80)  # overlaps b1 by 40 keys
        n1 = merge_append(spark, target, b1, ["doc_id"])
        v1 = _committed_version(target)
        n2 = merge_append(spark, target, b2, ["doc_id"])

        race = {}

        def racer():
            if not race:
                race["n"] = merge_append(
                    spark, target, docs.filter(F.col("doc_id") < 100), ["doc_id"]
                )

        n3 = merge_append(
            spark,
            target,
            docs.filter(F.col("doc_id") < 100),
            ["doc_id"],
            _pre_commit_hook=racer,
        )
        if race["n"] != 20 or n3 != 0:
            raise AssertionError("optimistic-commit race resolved wrong")

        pre_files = len(committed_files(target))
        pre_compact_version = _committed_version(target)
        replaced = compact(spark, target)
        post_files = len(committed_files(target))
        if read_committed(spark, target).count() != 100:
            raise AssertionError("compaction changed table contents")

        cdc = table_changes(spark, target, from_version=v1)
        cdc_rows = cdc.count() if cdc is not None else 0
        if cdc_rows != 60:  # merge2 (40) + racer (20); compaction excluded
            raise AssertionError(f"CDC replayed {cdc_rows} rows, expected 60")
        if read_committed(spark, target, version=v1).count() != n1:
            raise AssertionError("time travel to v1 drifted")
        # Age every file past the sweep's in-flight bound, so a staged
        # part a writer leaked would be swept and counted too.
        stale = time.time() - 2 * _STALE_S
        for rel in _table_files(target):
            os.utime(os.path.join(target, rel), (stale, stale))
        vacuumed = len(vacuum_orphans(target))
        if vacuumed != replaced:
            raise AssertionError("vacuum reclaimed wrong file set")
        if read_committed(spark, target).count() != 100:
            raise AssertionError("vacuum damaged the committed snapshot")
        row = (
            n1, n2, race["n"], n3, pre_compact_version,
            pre_files, post_files, replaced, cdc_rows, vacuumed,
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        [row],
        "inserted_1 bigint, inserted_2 bigint, racer_inserted bigint,"
        " loser_inserted bigint, pre_compact_version int, files_before int,"
        " files_after int, files_replaced int, cdc_rows bigint, vacuumed int",
    )


# --------------------------------------------------------------------------
# txlog_e2e_state — the HASH companion to txlog_e2e (VERDICT r7 task 8):
# the same merge → race → compaction → vacuum lifecycle, but the result
# is the lifecycle's full OBSERVABLE STATE as a deterministic relation —
# CDC feed, time-travel snapshot, final snapshot — hash-compared to a
# DuckDB twin that replays the commit semantics relationally.
# --------------------------------------------------------------------------
_TXLOG_E2E_STATE_ORACLE = """
WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id < 100),
-- merge_append inserts only NEW keys (anti-join): commit 1 = ids < 40,
-- commit 2 = the 40..79 remainder, commit 3 = the RACER's 80..99 win;
-- the losing merge retries to a no-op and commits nothing; the
-- compaction commit (v4) never appears in the feed.
cdc AS (
  SELECT 'cdc' AS stage, doc_id, source,
         CASE WHEN doc_id < 40 THEN 1
              WHEN doc_id < 80 THEN 2
              ELSE 3 END AS commit_version
  FROM d
),
tt AS (
  SELECT 'timetravel_v1' AS stage, doc_id, source,
         CAST(1 AS BIGINT) AS commit_version
  FROM d WHERE doc_id < 40
),
snap AS (
  SELECT 'snapshot' AS stage, doc_id, source,
         CAST(NULL AS BIGINT) AS commit_version
  FROM d
)
SELECT * FROM cdc
UNION ALL SELECT * FROM tt
UNION ALL SELECT * FROM snap
"""


@register("txlog_e2e_state", oracle=_TXLOG_E2E_STATE_ORACLE)
def q_txlog_e2e_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """txlog_e2e's lifecycle with its end state under the VALUE HASH
    (txlog_e2e itself is rows-only by design — side-effecting, its
    relation is an audit row): replay merge(ids<40) → merge(ids<80) →
    racing merge(ids<100) where the in-flight loser retries to a no-op
    → compaction → vacuum on a scratch table, then return three
    stage-tagged projections of what a reader OBSERVES — the typed CDC
    feed from version 0 (each insert tagged with its originating
    commit), the time-travel read at v1 (taken pre-vacuum, inside the
    retention window), and the final committed snapshot (post-vacuum).
    The DuckDB twin derives the identical relation from the documents
    table and the commit semantics alone, so a hash match proves:
    anti-join merge keeps first-writer-wins key ownership, the CAS race
    resolves to one 20-row winner and a commit-less no-op loser,
    compaction rewrites never surface in the feed, vacuum reclaims
    without damaging the snapshot, and time travel reproduces v1.

    Scale: the lifecycle is O(1) driver-side log I/O + bounded writes;
    the returned relation is 240 rows collected before scratch
    cleanup."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        compact,
        merge_append,
        read_committed,
        table_changes,
        vacuum_orphans,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_state_")
    try:
        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 40), ["doc_id"])
        v1 = _committed_version(target)
        merge_append(spark, target, docs.filter(F.col("doc_id") < 80), ["doc_id"])
        race: dict[str, int] = {}

        def racer() -> None:
            if not race:
                race["n"] = merge_append(
                    spark, target, docs.filter(F.col("doc_id") < 100), ["doc_id"]
                )

        merge_append(
            spark,
            target,
            docs.filter(F.col("doc_id") < 100),
            ["doc_id"],
            _pre_commit_hook=racer,
        )
        compact(spark, target)

        def staged(df: DataFrame, stage: str, version) -> DataFrame:
            return df.select(
                F.lit(stage).alias("stage"),
                "doc_id",
                "source",
                version.cast("bigint").alias("commit_version"),
            )

        cdc = staged(
            table_changes(spark, target, from_version=0, with_version=True),
            "cdc",
            F.col("_commit_version"),
        )
        tt = staged(
            read_committed(spark, target, version=v1), "timetravel_v1", F.lit(v1)
        )
        # Time travel must be OBSERVED (collected) pre-vacuum: vacuum
        # reclaims the compaction-replaced files v1 still references.
        rows = bounded_collect(
            cdc.unionByName(tt), 2_000, "txlog seed-bounded CDC + time travel"
        )
        vacuum_orphans(target)
        snap = staged(read_committed(spark, target), "snapshot", F.lit(None))
        rows += bounded_collect(snap, 2_000, "txlog seed-bounded snapshot")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows, "stage string, doc_id bigint, source string, commit_version bigint"
    )


# --------------------------------------------------------------------------
# txlog_skipping — zone-map data skipping on the transaction log under
# the value hash: range reads open only the files whose commit-time
# min/max stats admit the predicate, asserted in-query.
# --------------------------------------------------------------------------
@register(
    "txlog_skipping",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE doc_id >= 250 AND doc_id < 350
    """,
)
def q_txlog_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File skipping on the K2 table format: five merges commit five
    disjoint doc_id ranges ([0,100) ... [400,500)), each commit
    recording per-file min/max zone maps from the parquet footers it
    just wrote; ``read_committed_pruned`` then serves
    ``doc_id BETWEEN 250 AND 349`` by opening ONLY the files whose
    stats intersect the range. The query raises unless pruning actually
    skipped files (files_read < files_total), and the surviving rows
    are hash-compared against DuckDB recomputing the range from the
    seed table — so both the pruning DECISION and the result are gated.

    Scale: the skip decision is driver-side manifest metadata — at
    100 TB a selective range touches O(selected) files before any task
    is scheduled, the same mechanism as Delta/Iceberg file skipping."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import merge_append, read_committed_pruned

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_skip_")
    try:
        target = f"{scratch}/t"
        for lo in range(0, 500, 100):
            merge_append(
                spark,
                target,
                docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)),
                ["doc_id"],
            )
        pruned, n_read, n_total = read_committed_pruned(
            spark, target, "doc_id", 250, 349
        )
        if not n_read < n_total:
            raise AssertionError(
                f"zone maps pruned nothing: read {n_read} of {n_total} files"
            )
        rows = bounded_collect(
            pruned.select("doc_id", "source"),
            2_000,
            "zone-map pruned range read",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, source string")


# --------------------------------------------------------------------------
# txlog_skipping_2d — multi-dimension Z-order compaction under the value
# hash: after ONE Morton-key clustered rewrite, range predicates on BOTH
# clustered columns skip files (asserted in-query), and the surviving
# rows hash-match DuckDB recomputing the range from seed data.
# --------------------------------------------------------------------------
@register(
    "txlog_skipping_2d",
    oracle="""
    WITH b AS (SELECT max(user_id) AS mu FROM events)
    SELECT event_id, user_id FROM events, b
    WHERE user_id BETWEEN mu // 10 AND (25 * mu) // 100
    """,
)
def q_txlog_skipping_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER, gated: five merges commit five disjoint event
    slices (event_id mod 5 — every file spans both full domains, the
    worst layout for skipping); one clustered compaction rewrites them
    sorted by the bit-interleaved Morton key of (event_id, user_id);
    then ``read_committed_pruned`` must skip files for a range
    predicate on event_id AND for one on user_id — two-predicate
    skipping being exactly what a lexicographic sort cannot provide
    (its trailing column spans the full domain in every file;
    test_compact_zorder_skips_on_both_columns pins the contrast). Both
    pruning decisions are asserted in-query; the user_id-range result —
    the read only Z-order makes cheap — is hash-compared against DuckDB
    recomputing it from the seed table. Predicate bounds derive from
    the data maxima with integer arithmetic (``mu // 10`` …), so the
    same literal SQL is exact at every scale factor.

    Scale: this is the background job that turns an append-ordered
    100 TB table into one skippable on TWO predicate columns at once —
    the rank bucketing is one aggregation pass, the interleave is pure
    codegen'd JVM bit arithmetic, and the skip decision stays
    driver-side manifest metadata."""
    import os as _os
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        committed_files,
        compact,
        merge_append,
        read_committed_pruned,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    me, mu = bounded_collect(
        events.agg(F.max("event_id"), F.max("user_id")), 1, "global max scalars"
    )[0]
    scratch = scratch_dir("stonkw_txlog_z_")
    try:
        target = f"{scratch}/t"
        for i in range(5):
            merge_append(
                spark, target, events.filter(F.col("event_id") % 5 == i), ["event_id"]
            )
        total_bytes = sum(
            _os.path.getsize(_os.path.join(target, f))
            for f in committed_files(target)
        )
        if (
            compact(
                spark,
                target,
                # ~8 output files regardless of scale factor
                target_bytes=max(1024, total_bytes // 8),
                cluster_by=["event_id", "user_id"],
                zorder=True,
            )
            == 0
        ):
            raise AssertionError("clustered compaction found nothing to rewrite")
        _, e_read, e_total = read_committed_pruned(
            spark, target, "event_id", (2 * me) // 10, (35 * me) // 100
        )
        if not e_read < e_total:
            raise AssertionError(
                f"event_id predicate pruned nothing: {e_read}/{e_total} files"
            )
        by_user, u_read, u_total = read_committed_pruned(
            spark, target, "user_id", mu // 10, (25 * mu) // 100
        )
        if not u_read < u_total:
            raise AssertionError(
                f"user_id predicate pruned nothing after zorder: "
                f"{u_read}/{u_total} files"
            )
        rows = bounded_collect(
            by_user.select("event_id", "user_id"),
            50_000,
            "z-order range-read gate relation (sf-proportional ~15% "
            "slice of events; gate-sized by design, see docs/SCALE.md)",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "event_id bigint, user_id bigint")


# --------------------------------------------------------------------------
# txlog_schema_evolution — additive schema evolution on the table format
# under the value hash: a later merge adds a column; the committed read
# resolves the union schema FROM THE LOG and null-fills older files.
# --------------------------------------------------------------------------
@register(
    "txlog_schema_evolution",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN doc_id >= 50 THEN lang END AS lang
    FROM documents WHERE doc_id < 100
    """,
)
def q_txlog_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution: commit 1 merges (doc_id, source),
    commit 2 merges (doc_id, source, lang) — each commit records its
    writer schema in the manifest, and ``read_committed`` reads under
    the log's UNION schema, so commit-1 rows surface lang=NULL without
    any per-file footer merge (the mergeSchema-option scan Delta also
    avoids by logging schemas). The DuckDB twin recomputes exactly that
    relation from the seed table; a reader that inferred schema from
    the wrong file (dropping lang) or leaked non-null lang into old
    rows hash-fails.

    Scale: schema resolution is O(#commits) driver-side manifest
    metadata — no footer round-trip per file, which at 100 TB is the
    difference between instant and a listing-wide metadata storm."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import merge_append, read_committed

    docs = load_table(spark, sf_dir, "documents")
    scratch = scratch_dir("stonkw_txlog_evo_")
    try:
        target = f"{scratch}/t"
        merge_append(
            spark,
            target,
            docs.filter(F.col("doc_id") < 50).select("doc_id", "source"),
            ["doc_id"],
        )
        merge_append(
            spark,
            target,
            docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)).select(
                "doc_id", "source", "lang"
            ),
            ["doc_id"],
        )
        snap = read_committed(spark, target)
        if set(snap.columns) != {"doc_id", "source", "lang"}:
            raise AssertionError(f"union schema not resolved: {snap.columns}")
        rows = bounded_collect(
            snap.select("doc_id", "source", "lang"),
            2_000,
            "txlog seed-bounded evolved snapshot",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id bigint, source string, lang string"
    )


# --------------------------------------------------------------------------
# txlog_merge_evolve — MERGE schema evolution (Delta withSchemaEvolution)
# under the value hash: the default rejects new source columns, the
# opt-in unions them; pre-evolution and carried rows null-fill.
# --------------------------------------------------------------------------
@register(
    "txlog_merge_evolve",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN doc_id >= 30 THEN lang END AS lang
    FROM documents WHERE doc_id < 90
    """,
)
def q_txlog_merge_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE schema evolution, the Delta ``withSchemaEvolution``
    contract: seed doc_id<60 as (doc_id, source) (v1), then
    ``merge_upsert`` a batch over [30,90) carrying a NEW ``lang``
    column. WITHOUT the flag the writer must REFUSE (asserted
    in-query — Delta's MERGE default); with ``schema_evolution=True``
    the merge updates 30-59 (acquiring lang), inserts 60-89, and the
    union schema null-fills the untouched 0-29 carried rows. The
    DuckDB twin recomputes the expected relation from the seed table,
    so an evolve that leaked lang into pre-evolution rows, dropped the
    new column from updates, or defaulted it wrong hash-fails.

    Scale: identical copy-on-write file-level MERGE as merge_upsert —
    evolution adds zero data passes (the union schema is commit
    metadata; carried rows null-fill AT READ, no rewrite of untouched
    files)."""
    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        merge_upsert,
        read_committed,
    )

    docs = load_table(spark, sf_dir, "documents")
    scratch = scratch_dir("stonkw_txlog_mev_")
    try:
        target = f"{scratch}/t"
        merge_append(
            spark,
            target,
            docs.filter(F.col("doc_id") < 60).select("doc_id", "source"),
            ["doc_id"],
        )
        batch = docs.filter(
            (F.col("doc_id") >= 30) & (F.col("doc_id") < 90)
        ).select("doc_id", "source", "lang")
        try:
            merge_upsert(spark, target, batch, ["doc_id"])
        except ValueError:
            pass  # the Delta default: new source column refused
        else:
            raise AssertionError(
                "merge accepted a new source column without "
                "schema_evolution=True"
            )
        ins, upd = merge_upsert(
            spark, target, batch, ["doc_id"], schema_evolution=True
        )
        if (ins, upd) != (30, 30):
            raise AssertionError(f"expected (30, 30), got {(ins, upd)}")
        snap = read_committed(spark, target)
        rows = bounded_collect(
            snap.select("doc_id", "source", "lang"),
            2_000,
            "txlog seed-bounded evolved snapshot",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id bigint, source string, lang string"
    )


# --------------------------------------------------------------------------
# txlog_restore_replay — RESTORE TO VERSION AS OF under the value hash:
# mutate a table through upsert + delete, roll it back, and prove the
# head snapshot equals the original seed bit-for-bit.
# --------------------------------------------------------------------------
@register(
    "txlog_restore_replay",
    oracle="""
    SELECT doc_id, source FROM documents WHERE doc_id < 60
    """,
)
def q_txlog_restore_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ``RESTORE TABLE t TO VERSION AS OF 1``: seed doc_id<60
    (v1), ``merge_upsert`` a rewriting batch over [30,90) (v2),
    ``delete_where(doc_id < 10)`` (v3), then ``restore`` to v1 (v4) —
    a METADATA-ONLY commit that flips the file view back (re-add the
    files the upsert/delete rewrote away, drop the files they added;
    nothing is rewritten). The head read must equal the seed exactly —
    the DuckDB twin recomputes the seed from the source table, so a
    restore that missed a removed file, resurrected a deleted row
    twice, or lost re-added zone maps hash-fails. In-query asserts
    pin the journey: v3 differs from the seed, the restore touched
    files in both directions, and the PRE-restore state stays
    time-travelable (history is append-only; the roll-back is itself
    a commit, as in Delta).

    Scale: O(#commits) driver metadata + footer row counts — restoring
    a 100 TB table moves no data. Timestamp-based travel
    (``version_as_of``) rides the same manifests."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        delete_where,
        merge_append,
        merge_upsert,
        read_committed,
        restore,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_restore_")
    try:
        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 60), ["doc_id"])
        v1 = _committed_version(target)
        merge_upsert(
            spark,
            target,
            docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 90))
            .withColumn("source", F.concat(F.col("source"), F.lit("_u"))),
            ["doc_id"],
        )
        delete_where(spark, target, F.col("doc_id") < 10)
        v3 = _committed_version(target)
        mutated = read_committed(spark, target).count()
        if mutated != 80:  # 90 seeded+inserted keys minus 10 deleted
            raise AssertionError(f"pre-restore snapshot {mutated} rows, expected 80")
        re_added, dropped = restore(spark, target, version=v1)
        if not re_added or not dropped:
            raise AssertionError(
                f"restore was a no-op (re_added={re_added}, dropped={dropped})"
            )
        # history preserved: the pre-restore state is still reachable
        if read_committed(spark, target, version=v3).count() != 80:
            raise AssertionError("pre-restore version no longer time-travelable")
        rows = bounded_collect(
            read_committed(spark, target).select("doc_id", "source"),
            2_000,
            "txlog seed-bounded end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, source string")


# --------------------------------------------------------------------------
# txlog_stream_sink — EXACTLY-ONCE streaming write INTO the txlog:
# foreachBatch + per-epoch transaction ledger (Delta txnAppId/txnVersion).
# The stream runs TWICE (second run over a fresh checkpoint); the final
# table must still equal the seed exactly — duplicates would hash-fail.
# --------------------------------------------------------------------------
@register(
    "txlog_stream_sink",
    oracle="""
    SELECT doc_id, source FROM documents WHERE doc_id < 60
    """,
)
def q_txlog_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest into the parquet txlog
    (``start_txn_append_stream``): stage the seed as a 2-file landing
    zone, stream it with ``maxFilesPerTrigger=1`` (2 deterministic
    micro-batches) through a foreachBatch sink that commits each batch
    via ``append_txn`` with (app_id, epoch_id) transaction identity —
    then RE-RUN the whole stream over a FRESH checkpoint. The replayed
    epochs find their (app, version) markers already in the commit
    ledger and skip, so the table holds each seed row exactly once;
    the DuckDB twin recomputes the seed, and any duplicate (or lost)
    batch hash-fails. This is Delta's idempotent
    ``txnAppId``/``txnVersion`` streaming-sink contract — exactly-once
    table contents from an at-least-once foreachBatch, with NO
    key-based dedup (blind append, no target read).

    Scale: each micro-batch costs O(batch) regardless of table size —
    the continuous-ingest shape for a 100 TB table; contrast
    ``start_merge_stream``, which pays a key anti-join per batch."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        last_txn_version,
        read_committed,
    )
    from stonkwhisperer_spark.streaming.jobs import start_txn_append_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_sink_")
    try:
        landing = f"{scratch}/landing"
        # Two separate single-file drops → a deterministic 2-batch split
        # under maxFilesPerTrigger=1 on both runs.
        docs.filter(F.col("doc_id") < 30).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)).coalesce(
            1
        ).write.mode("append").parquet(landing)
        target = f"{scratch}/t"

        def run(ckpt: str) -> None:
            stream = (
                spark.readStream.schema("doc_id bigint, source string")
                .option("maxFilesPerTrigger", 1)
                .parquet(landing)
            )
            q = start_txn_append_stream(stream, target, "doc-ingest", ckpt)
            q.awaitTermination(120)

        run(f"{scratch}/ckpt1")
        if last_txn_version(target, "doc-ingest") != 1:
            raise AssertionError("expected 2 micro-batch transactions (0 and 1)")
        first = read_committed(spark, target).count()
        run(f"{scratch}/ckpt2")  # full replay, fresh checkpoint
        if read_committed(spark, target).count() != first:
            raise AssertionError("replayed stream duplicated rows")
        rows = bounded_collect(
            read_committed(spark, target).select("doc_id", "source"),
            2_000,
            "txlog seed-bounded end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, source string")


# --------------------------------------------------------------------------
# txlog_constraints — CHECK-constraint enforcement under the value hash:
# a violating batch is rejected whole (no partial commit), a valid batch
# lands, and the final snapshot equals the oracle's recomputation.
# --------------------------------------------------------------------------
@register(
    "txlog_constraints",
    oracle="""
    SELECT doc_id, source FROM documents WHERE doc_id < 60
    """,
)
def q_txlog_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ``ALTER TABLE ADD CONSTRAINT ... CHECK`` enforcement:
    seed doc_id<30 (v1), add ``CHECK (doc_id >= 0 AND source IS NOT
    NULL)`` (v2, after validating existing data), then (a) attempt a
    batch containing one violating row (doc_id = -1) — the write must
    raise BEFORE any commit, leaving version and contents untouched
    (asserted in-query: all-or-nothing, Delta's stance — no partial
    landing, no quarantine split of an invariant-violating batch) —
    and (b) write the valid remainder [30,60), which lands. The DuckDB
    twin recomputes the final snapshot from the source table; a gate
    that let the bad row through, or dropped valid rows with it,
    hash-fails.

    Scale: enforcement is one codegen'd filter over the incoming
    BATCH per constraint — O(batch) at any table size; the constraint
    set itself is O(#commits) driver metadata."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        add_constraint,
        merge_append,
        read_committed,
        table_constraints,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_cons_")
    try:
        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 30), ["doc_id"])
        add_constraint(
            spark, target, "valid_doc", "doc_id >= 0 AND source IS NOT NULL"
        )
        if table_constraints(target) != {
            "valid_doc": "doc_id >= 0 AND source IS NOT NULL"
        }:
            raise AssertionError("constraint not replayed from the log")
        poisoned = docs.filter(
            (F.col("doc_id") >= 30) & (F.col("doc_id") < 60)
        ).unionByName(
            spark.createDataFrame([(-1, "bad")], "doc_id bigint, source string")
        )
        v_before = _committed_version(target)
        try:
            merge_append(spark, target, poisoned, ["doc_id"])
            raise AssertionError("violating batch was not rejected")
        except ValueError as e:
            if "valid_doc" not in str(e):
                raise
        if _committed_version(target) != v_before:
            raise AssertionError("rejected batch left a commit behind")
        merge_append(
            spark,
            target,
            docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)),
            ["doc_id"],
        )
        rows = bounded_collect(
            read_committed(spark, target).select("doc_id", "source"),
            2_000,
            "txlog seed-bounded end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, source string")


# --------------------------------------------------------------------------
# txlog_vacuum_replay — retention-window VACUUM under the value hash:
# reclaim history physically, keep the live snapshot bit-identical.
# --------------------------------------------------------------------------
@register(
    "txlog_vacuum_replay",
    oracle="""
    SELECT doc_id, source || '_u' AS source
    FROM documents WHERE doc_id < 30
    """,
)
def q_txlog_vacuum_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``VACUUM t RETAIN 0 VERSIONS``: seed doc_id<30 (v1),
    ``merge_upsert`` a full rewrite with ``source || '_u'`` (v2 — v1's
    files leave the view but stay on disk for time travel), then
    ``vacuum(retain_versions=0, unsafe_zero_retention=True)`` (the
    explicit opt-in zero-retention requires) — the v1 files are PHYSICALLY
    reclaimed (asserted gone from disk in-query) and the retention
    horizon is committed, after which a v1 read raises a clear
    retention error rather than a mid-scan FileNotFound (asserted
    in-query). The head snapshot must be bit-identical to the DuckDB
    twin's recomputation — a vacuum that reclaimed a LIVE file would
    lose rows and hash-fail; one that kept reclaiming-eligible files
    fails the in-query disk assert.

    Scale: vacuum is driver-side manifest math + unlinks — O(#commits
    + #reclaimed), no Spark job; this is what bounds storage for a
    continuously-upserting copy-on-write table at 100 TB."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        committed_files,
        merge_append,
        merge_upsert,
        read_committed,
        vacuum,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_vac_")
    try:
        import os as _os

        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 30), ["doc_id"])
        v1_files = set(committed_files(target, version=1))
        merge_upsert(
            spark,
            target,
            docs.filter(F.col("doc_id") < 30).withColumn(
                "source", F.concat(F.col("source"), F.lit("_u"))
            ),
            ["doc_id"],
        )
        removed = vacuum(target, retain_versions=0, unsafe_zero_retention=True)
        if not v1_files <= set(removed):
            raise AssertionError(
                f"vacuum kept rewritten-away files: {v1_files - set(removed)}"
            )
        for rel in v1_files:
            if _os.path.exists(_os.path.join(target, rel)):
                raise AssertionError(f"reclaimed file still on disk: {rel}")
        try:
            read_committed(spark, target, version=1)
            raise AssertionError("below-horizon read did not raise")
        except ValueError as e:
            if "retention horizon" not in str(e):
                raise
        rows = bounded_collect(
            read_committed(spark, target).select("doc_id", "source"),
            2_000,
            "txlog seed-bounded end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, source string")


# --------------------------------------------------------------------------
# txlog_history — DESCRIBE HISTORY under the value hash: a six-commit
# journey (append, constraint, merge, delete, restore, vacuum) replayed
# from manifests alone, with data-derived row accounting.
# --------------------------------------------------------------------------
@register(
    "txlog_history",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS version, 'MERGE APPEND' AS operation,
           CAST((SELECT COUNT(*) FROM documents WHERE doc_id < 30) AS BIGINT)
             AS num_rows
    UNION ALL
    SELECT 2, 'ADD CONSTRAINT', 0
    UNION ALL
    SELECT 3, 'MERGE',
           (SELECT COUNT(*) FROM documents WHERE doc_id >= 15 AND doc_id < 45)
    UNION ALL
    SELECT 4, 'DELETE', 0
    UNION ALL
    SELECT 5, 'RESTORE',
           (SELECT COUNT(*) FROM documents WHERE doc_id < 30)
    UNION ALL
    SELECT 6, 'VACUUM', 0
    """,
)
def q_txlog_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ``DESCRIBE HISTORY``: drive one table through the whole
    mutation surface — MERGE APPEND (v1, single-file seed), ADD
    CONSTRAINT (v2), MERGE upsert over [15,45) (v3), DELETE doc_id<5
    (v4), RESTORE to v1 (v5 — re-adds the 30-row seed file), VACUUM
    retain 0 (v6) — then read the history back from the commit
    manifests alone. The DuckDB twin derives every operation's row
    accounting from the source table (append = seeded rows, merge =
    written rows, restore = re-added rows; metadata-only commits and
    deletes record 0 — delete row counts live in the change feed). A
    history that misattributed an operation, lost a commit, or
    miscounted staged rows hash-fails.

    Scale: O(#commits) driver metadata — DESCRIBE HISTORY on a 100 TB
    table opens zero data files."""
    import shutil

    from stonkwhisperer_spark.sinks.writers import (
        add_constraint,
        delete_where,
        merge_append,
        merge_upsert,
        restore,
        table_history,
        vacuum,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_hist_")
    try:
        target = f"{scratch}/t"
        # coalesce(1): one seed file, so the restore's re-added row
        # count is the whole seed regardless of shuffle partitioning
        merge_append(
            spark, target, docs.filter(F.col("doc_id") < 30).coalesce(1), ["doc_id"]
        )
        add_constraint(spark, target, "valid_id", "doc_id >= 0")
        merge_upsert(
            spark,
            target,
            docs.filter((F.col("doc_id") >= 15) & (F.col("doc_id") < 45))
            .withColumn("source", F.concat(F.col("source"), F.lit("_u"))),
            ["doc_id"],
        )
        delete_where(spark, target, F.col("doc_id") < 5)
        restore(spark, target, version=1)
        vacuum(target, retain_versions=0, unsafe_zero_retention=True)
        rows = bounded_collect(
            table_history(spark, target).select(
                "version", "operation", "num_rows"
            ),
            1_000,
            "commit-count-bounded history",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows, "version bigint, operation string, num_rows bigint"
    )


# --------------------------------------------------------------------------
# txlog_clone_replay — DEEP CLONE under the value hash: the clone must
# reproduce the source snapshot (files, DV masks, renames) byte-for-byte,
# stay isolated from post-clone source mutations, and cost zero data I/O
# (hardlinks, asserted on inodes in-query).
# --------------------------------------------------------------------------
@register(
    "txlog_clone_replay",
    oracle="""
    SELECT doc_id, source AS origin, 'clone' AS side FROM documents
    WHERE doc_id < 60 AND doc_id % 5 <> 0
    UNION ALL
    SELECT doc_id, source AS origin, 'source' AS side FROM documents
    WHERE (doc_id < 60 AND doc_id % 5 <> 0)
       OR (doc_id >= 60 AND doc_id < 80)
    """,
)
def q_txlog_clone_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEEP CLONE end to end: seed doc_id<60 in two commits, mask the
    doc_id%5==0 rows with a deletion-vector delete, RENAME COLUMN
    source→origin, then clone at head. The clone must read back the
    masked + renamed snapshot exactly; its data files must be
    HARDLINKS of the source's (same inode — zero data bytes moved,
    asserted); appending doc_id 60..79 to the SOURCE afterwards must
    leave the clone untouched (isolation both directions, asserted by
    re-reading). The DuckDB twin recomputes both final states from
    seed: the clone = the pre-append view, the source = the appended
    view, both under the renamed column.

    Scale: CLONE is O(#files) metadata + link calls with no Spark job
    and no data I/O — the table-format answer to "give me a
    consistent copy to experiment on" that a 100 TB parquet re-write
    cannot afford."""
    import os as _os

    from stonkwhisperer_spark.sinks.writers import (
        clone_table,
        committed_files,
        delete_where_dv,
        merge_append,
        read_committed,
        rename_column,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scratch = scratch_dir("stonkw_txlog_clone_")
    try:
        src = f"{scratch}/src"
        dst = f"{scratch}/dst"
        merge_append(spark, src, docs.filter(F.col("doc_id") < 30), ["doc_id"])
        merge_append(
            spark, src, docs.filter(F.col("doc_id").between(30, 59)), ["doc_id"]
        )
        delete_where_dv(spark, src, F.col("doc_id") % 5 == 0)
        rename_column(src, "source", "origin")
        clone_table(src, dst)
        for f in committed_files(dst):
            a = _os.stat(_os.path.join(src, f))
            b = _os.stat(_os.path.join(dst, f))
            if (a.st_ino, a.st_dev) != (b.st_ino, b.st_dev):
                raise AssertionError(f"clone copied {f} instead of linking")
        merge_append(
            spark,
            src,
            docs.filter(F.col("doc_id").between(60, 79)).withColumnRenamed(
                "source", "origin"
            ),
            ["doc_id"],
        )
        clone_rows = bounded_collect(
            read_committed(spark, dst).select("doc_id", "origin"),
            2_000,
            "txlog seed-bounded clone state",
        )
        if len(clone_rows) != 48:  # 60 seeded - 12 masked
            raise AssertionError(
                f"clone drifted after source append: {len(clone_rows)} rows"
            )
        src_rows = bounded_collect(
            read_committed(spark, src).select("doc_id", "origin"),
            2_000,
            "txlog seed-bounded end state",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    out = [(r.doc_id, r.origin, "clone") for r in clone_rows] + [
        (r.doc_id, r.origin, "source") for r in src_rows
    ]
    return spark.createDataFrame(
        out, "doc_id bigint, origin string, side string"
    )


# --------------------------------------------------------------------------
# txlog_incremental_agg — incremental materialized-view maintenance from
# the typed CDC feed: the aggregate is advanced by O(changes) algebra
# (insert/postimage add, delete/preimage subtract), never recomputed from
# the table, and must equal the from-scratch recompute exactly.
# --------------------------------------------------------------------------
@register(
    "txlog_incremental_agg",
    oracle="""
    WITH base AS (
      SELECT doc_id, source,
             CASE WHEN doc_id BETWEEN 150 AND 219
                  THEN n_chars + 1000 ELSE n_chars END AS n_chars
      FROM documents WHERE doc_id < 220
    ),
    after_del AS (SELECT * FROM base WHERE doc_id % 10 <> 3),
    final AS (
      SELECT source,
             CASE WHEN doc_id % 10 = 4 THEN n_chars * 2 ELSE n_chars END
               AS n_chars
      FROM after_del
    )
    SELECT source, count(*) AS cnt, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM final GROUP BY source
    """,
)
def q_txlog_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance over the typed change
    feed (the Delta Live Tables / materialized-view pattern): snapshot
    a per-source (count, sum) aggregate at the seed version, then push
    the table through a MERGE upsert (updates + inserts), a DELETE, and
    an UPDATE — and advance the aggregate using ONLY ``table_changes``:
    insert/update_postimage rows add, delete/update_preimage rows
    subtract. Counts and sums are self-inverting under this signed
    algebra, so the maintained view must equal the from-scratch
    recompute EXACTLY — asserted in-query with a two-sided exceptAll
    before returning. The DuckDB twin replays the same mutation script
    against the seed relation.

    Scale: this is why the CDC feed exists — maintaining a dashboard
    aggregate over a 100 TB table costs O(rows changed since the last
    refresh) (each commit's added/change files only, per table_changes)
    plus a keyed merge into a view that is #groups-sized; the
    from-scratch recompute here is only the test's ground truth. All
    algebraic aggregates (sum/count/avg) maintain this way; min/max
    need the monotonic-insert case or a recompute fallback."""
    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        delete_where,
        merge_append,
        merge_upsert,
        read_committed,
        table_changes,
        update_where,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    scratch = scratch_dir("stonkw_txlog_inc_")
    try:
        target = f"{scratch}/t"
        merge_append(spark, target, docs.filter(F.col("doc_id") < 200), ["doc_id"])
        v_seed = _committed_version(target)
        base_agg = (
            read_committed(spark, target)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("n_chars").alias("sum_chars"),
            )
            .localCheckpoint(eager=True)  # pin the seed-version snapshot
        )
        merge_upsert(
            spark,
            target,
            docs.filter(F.col("doc_id").between(150, 219)).withColumn(
                "n_chars", F.col("n_chars") + 1000
            ),
            ["doc_id"],
        )
        delete_where(spark, target, F.col("doc_id") % 10 == 3)
        update_where(
            spark,
            target,
            {"n_chars": F.col("n_chars") * 2},
            F.col("doc_id") % 10 == 4,
        )
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        delta_agg = (
            table_changes(spark, target, from_version=v_seed)
            .groupBy("source")
            .agg(
                F.sum(sign).alias("cnt"),
                F.sum(sign * F.col("n_chars")).alias("sum_chars"),
            )
        )
        view = (
            base_agg.unionByName(delta_agg)
            .groupBy("source")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.sum("sum_chars").cast("bigint").alias("sum_chars"),
            )
            .filter(F.col("cnt") > 0)
        )
        recomputed = (
            read_committed(spark, target)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
        )
        drift = (
            view.exceptAll(recomputed).count()
            + recomputed.exceptAll(view).count()
        )
        if drift:
            raise AssertionError(
                f"incremental view drifted from recompute by {drift} rows"
            )
        rows = bounded_collect(view, 2_000, "per-source incremental view")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows, "source string, cnt bigint, sum_chars bigint"
    )


# --------------------------------------------------------------------------
# streaming_bloom — the MEMBERSHIP mirror: the packed bloom filter
# maintained incrementally over the same 4-batch document stream.
# Bloom merge is bitwise OR per word — exact — so the drained stream's
# filter equals the batch filter bit-for-bit, and the oracle replays
# the maintenance loop plus the probe's confusion matrix (the
# false-negative cell must be absent). Completes the sketch x
# streaming matrix: KMV, CMS, quantiles, bloom.
# --------------------------------------------------------------------------
_SBLM_D = 4
_SBLM_M = 1 << 20  # 1 Mbit = 32768 packed words; ~12+ bits/key at sf0.1 vocab


def _streaming_bloom_oracle() -> str:
    from stonkwhisperer_spark.functions.hashing import portable_hash64_sql
    from stonkwhisperer_spark.plans.queries_text import _SKETCH_TOKS_SQL

    return f"""
    WITH toks AS ({_SKETCH_TOKS_SQL}),
    vocab AS (SELECT DISTINCT tok FROM toks),
    probe AS (
      SELECT tok AS k, true AS is_member FROM vocab
      UNION ALL
      SELECT 'absent:' || i.range, false FROM range(2000) i
    ),
    seeds AS (SELECT unnest(range({_SBLM_D})) AS seed),
    kb AS (
      SELECT {portable_hash64_sql("seed::varchar || '|' || tok")} % {_SBLM_M} AS bit
      FROM vocab CROSS JOIN seeds
    ),
    bloom AS (
      SELECT bit // 32 AS word,
             bit_or(1::BIGINT << cast(bit % 32 AS int)) AS bits
      FROM kb GROUP BY 1
    ),
    pb AS (
      SELECT k, is_member,
             {portable_hash64_sql("seed::varchar || '|' || k")} % {_SBLM_M} AS bit
      FROM probe CROSS JOIN seeds
    ),
    flags AS (
      SELECT k, is_member,
             bool_and(
               (coalesce(bits, 0) & (1::BIGINT << cast(bit % 32 AS int))) <> 0
             ) AS bloom_pass
      FROM pb LEFT JOIN bloom ON bloom.word = pb.bit // 32
      GROUP BY k, is_member
    )
    SELECT is_member, bloom_pass, count(*) AS n_keys
    FROM flags GROUP BY 1, 2
    """


@register("streaming_bloom", oracle=_streaming_bloom_oracle())
def q_streaming_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-vocabulary bloom filter maintained INCREMENTALLY over
    the corpus token stream (N_BATCHES shards, shared fixture landing):
    each micro-batch builds its own packed filter (map-side bit
    explode, one word-keyed partial-agg shuffle) and foreachBatch
    folds it into the persisted state by bitwise OR per word — the
    bloom merge is exact, so the drained stream's filter is identical
    to a from-scratch batch filter. The probe then classifies every
    vocabulary token (must ALL pass — a false negative is impossible
    by construction and fatal by hash) plus 2000 known-absent keys
    (the (false, true) cell IS the measured FP count), and the DuckDB
    twin replays bits AND confusion matrix.

    This is the ingest-time membership story: each arriving shard
    pays O(shard) bit-setting against m/32 words of state, and the
    downstream semi-join prune (see bloom_prune_lineitem) never
    re-reads the corpus to ask "have we seen this key?". Scale: the
    state union touches 2·m/32 rows per batch regardless of batch
    size; production keeps versions in the txlog format."""
    import os

    from stonkwhisperer_spark.operators.sketches import (
        bloom_build,
        bloom_merge,
        bloom_probe,
    )
    from stonkwhisperer_spark.plans.stream_fixtures import token_landing
    from stonkwhisperer_spark.streaming.jobs import read_landing_stream

    scratch = scratch_dir("stonkw_stream_bloom_")
    try:
        landing = token_landing(spark, sf_dir)
        schema = spark.read.parquet(landing).schema
        stream = read_landing_stream(spark, landing, schema, max_files_per_trigger=1)
        toks = stream.select("tok")

        state_dir = f"{scratch}/state"
        state = {"v": 0}

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            sess = batch_df.sparkSession
            # Distinct BEFORE the d-way bit explode: bloom bits are
            # OR'd, so duplicate tokens are pure hash overhead — the
            # batch's dedup shuffle is far cheaper than 4 md5s per
            # repeated occurrence (the dominant map cost of this
            # query; its siblings' costs halved under the shared
            # fixture while bloom's did not move until this).
            bbl = bloom_build(
                batch_df.select("tok").distinct(), "tok", d=_SBLM_D, m_bits=_SBLM_M
            )
            if state["v"] > 0:
                prev = sess.read.parquet(f"{state_dir}/v{state['v']}")
                merged = bloom_merge(prev.unionByName(bbl))
            else:
                merged = bbl
            merged.write.parquet(f"{state_dir}/v{state['v'] + 1}")
            state["v"] += 1

        with _stream_shuffle_width(spark):
            q = (
                toks.writeStream.foreachBatch(merge_batch)
                .option("checkpointLocation", f"{scratch}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("streaming_bloom did not drain within 300s")
            finally:
                q.stop()
        assert state["v"] >= 1 and os.path.isdir(f"{state_dir}/v{state['v']}")
        final = spark.read.parquet(f"{state_dir}/v{state['v']}")
        # Vocabulary probe from the shared token landing — the same
        # rows the stream drained, no second tokenize pass.
        vocab = spark.read.parquet(landing).select(F.col("tok").alias("k")).distinct()
        absent = spark.range(2000).select(
            F.concat(F.lit("absent:"), F.col("id").cast("string")).alias("k")
        )
        probe = vocab.withColumn("is_member", F.lit(True)).unionByName(
            absent.withColumn("is_member", F.lit(False))
        )
        cells = (
            bloom_probe(probe, "k", final, d=_SBLM_D, m_bits=_SBLM_M)
            .groupBy("is_member", F.col("might_contain").alias("bloom_pass"))
            .agg(F.count("*").alias("n_keys"))
        )
        rows = bounded_collect(cells, 100, "bloom confusion cells")
        # Scratch state dies on return — the <=4-row result is
        # collected first, same pattern as the sibling stream sketches.
        return spark.createDataFrame(rows, cells.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# streaming_hll — the cardinality mirror that finishes the matrix: ALL
# five mergeable sketch families (KMV, CMS, quantiles, bloom, HLL) now
# have a stream-maintained twin. HLL merge is element-wise register
# MAX — exact — so the drained stream's register table equals the
# batch sketch bit-for-bit and the oracle replays registers AND the
# integer estimator (same contract as hll_vocab_cardinality).
# --------------------------------------------------------------------------
def _streaming_hll_oracle() -> str:
    from stonkwhisperer_spark.functions.hashing import portable_hash64_sql
    from stonkwhisperer_spark.operators.sketches import HLL_EST_DEN, HLL_EST_NUM
    from stonkwhisperer_spark.plans.queries_text import _SKETCH_TOKS_SQL

    return f"""
    WITH toks AS ({_SKETCH_TOKS_SQL}),
    h AS (
      SELECT source, {portable_hash64_sql('tok')} AS _h FROM toks
    ),
    reg AS (
      SELECT source, _h % 256 AS _bkt,
             max(CASE WHEN _h // 256 = 0 THEN 53
                      ELSE 53 - length(bin(_h // 256)) END) AS _reg
      FROM h GROUP BY source, _h % 256
    ),
    est AS (
      SELECT source,
             CAST(256 - count(*) AS BIGINT) AS v_zero,
             CAST(sum(1::BIGINT << (53 - _reg))
                  + (256 - count(*)) * (1::BIGINT << 53) AS BIGINT) AS s_scaled
      FROM reg GROUP BY source
    ),
    fin AS (
      SELECT source, v_zero, s_scaled,
             CAST(CAST({HLL_EST_NUM} AS HUGEINT)
                  // (CAST({HLL_EST_DEN} AS HUGEINT) * s_scaled) AS BIGINT) AS _raw
      FROM est
    )
    SELECT source, v_zero, s_scaled,
           CASE WHEN v_zero > 0 AND _raw <= 640
                THEN CAST(floor(256 * ln(256.0 / v_zero) + 0.5) AS BIGINT)
                ELSE _raw END AS est_distinct
    FROM fin
    """


@register("streaming_hll", oracle=_streaming_hll_oracle())
def q_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HyperLogLog registers maintained INCREMENTALLY over
    the corpus token stream (N_BATCHES shards, shared fixture
    landing): each batch's m=256-register table folds into the
    persisted state by element-wise MAX inside foreachBatch — the HLL
    merge is exact, so the drained state equals a from-scratch batch
    sketch bit-for-bit, and the integer estimator (harmonic sum,
    alpha correction, linear-counting branch) runs over it under the
    same cross-engine contract as hll_vocab_cardinality.

    This closes the sketch x streaming matrix: all five mergeable
    families (KMV, CMS, quantiles, bloom, HLL) maintain state at
    O(shard) per arriving batch with bounded persisted size (here
    256 registers per source). Scale: the state union touches
    2·m·sources rows per batch regardless of batch size; HLL's
    fixed-size one-max-combine state is the industry default for
    exactly this deployment."""
    import os

    from stonkwhisperer_spark.operators.sketches import hll_estimate, hll_sketch
    from stonkwhisperer_spark.plans.stream_fixtures import token_landing
    from stonkwhisperer_spark.streaming.jobs import read_landing_stream

    scratch = scratch_dir("stonkw_stream_hll_")
    try:
        landing = token_landing(spark, sf_dir)
        schema = spark.read.parquet(landing).schema
        stream = read_landing_stream(spark, landing, schema, max_files_per_trigger=1)
        toks = stream.select("source", "tok")

        state_dir = f"{scratch}/state"
        state = {"v": 0}

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            sess = batch_df.sparkSession
            breg = hll_sketch(batch_df, "source", "tok")
            if state["v"] > 0:
                prev = sess.read.parquet(f"{state_dir}/v{state['v']}")
                merged = (
                    prev.unionByName(breg)
                    .groupBy("source", "_bkt")
                    .agg(F.max("_reg").alias("_reg"))
                )
            else:
                merged = breg
            merged.write.parquet(f"{state_dir}/v{state['v'] + 1}")
            state["v"] += 1

        with _stream_shuffle_width(spark):
            q = (
                toks.writeStream.foreachBatch(merge_batch)
                .option("checkpointLocation", f"{scratch}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError("streaming_hll did not drain within 300s")
            finally:
                q.stop()
        assert state["v"] >= 1 and os.path.isdir(f"{state_dir}/v{state['v']}")
        final = spark.read.parquet(f"{state_dir}/v{state['v']}")
        est = hll_estimate(final, "source")
        rows = bounded_collect(est, 1_000, "per-source HLL estimates")
        # Scratch state dies on return — the sources-row result is
        # collected first, same pattern as the sibling stream sketches.
        return spark.createDataFrame(rows, est.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# index_retention_maintenance — the r14 pinned retention-maintenance seam
# promoted to a driver-gated row (VERDICT r14 task 3): compact + a
# BOUNDED-window vacuum on a stream-churned index, with the time-travel
# window and the below-horizon refusal asserted in-query.
# --------------------------------------------------------------------------
@register(
    "index_retention_maintenance",
    oracle="""
    SELECT doc_id, doc_id % 4 AS band_idx, source AS band_key
    FROM documents WHERE doc_id < 120
    """,
)
def q_index_retention_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention policy a stream-maintained index needs (pinned at
    unit scale in tests/test_streaming.py::
    test_stream_maintained_index_retention_maintenance, promoted here):
    a band-index table takes a base commit, a stale-rows commit, and a
    streamed exactly-once MERGE ingest (run_txn_merge_ingest: >=2
    micro-batches, both arms, replay proven a structural no-op) — one
    copy-on-write file generation per micro-batch — then the
    maintenance pass runs: ``compact`` folds the churned generations
    into ~target-size parts and ``vacuum(retain_versions=2)`` (the
    BOUNDED window, not the zero-retention erasure path) reclaims
    files no in-window snapshot can reference. Asserted in-query:
    (a) the reclamation actually removed files, (b) the cutoff version
    still time-travels, (c) one version below the horizon is refused
    with the retention-contract error (never a mid-scan FileNotFound),
    (d) index CONTENTS are byte-identical across the maintenance pass
    (the returned relation, hash-gated against the from-scratch oracle),
    and (e) the live file count shrank.

    Scale: this is the steady-state storage bill of a continuously
    MERGEd 100 TB index — per-micro-batch churn is reclaimed on a
    schedule while history stays readable exactly as long as the
    retention window says; compact is O(live bytes) once per
    maintenance interval, vacuum is O(log metadata + files dropped).
    Reference contract generalized: trigger_databricks_job.py:10-34's
    maintained merge target under continuous arrival."""
    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        committed_files,
        compact,
        merge_append,
        read_committed,
        vacuum,
    )
    from stonkwhisperer_spark.streaming.jobs import run_txn_merge_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    full = docs.filter(F.col("doc_id") < 120).select(
        "doc_id",
        (F.col("doc_id") % 4).cast("bigint").alias("band_idx"),
        F.col("source").alias("band_key"),
    )
    base = full.filter(F.col("doc_id") % 3 != 0)
    stale = full.filter(F.col("doc_id") % 6 == 0).withColumn(
        "band_key", F.lit("stale")
    )
    batch = full.filter(F.col("doc_id") % 3 == 0)
    scratch = scratch_dir("stonkw_idx_retention_")
    try:
        target = f"{scratch}/idx"
        merge_append(spark, target, base, ["doc_id", "band_idx"])
        merge_append(spark, target, stale, ["doc_id", "band_idx"])
        landing = f"{scratch}/landing"
        batch.repartition(4).write.parquet(landing)
        run_txn_merge_ingest(
            spark,
            landing,
            batch.schema,
            target,
            ["doc_id", "band_idx"],
            "idx_retention_ingest",
            scratch,
        )
        want = sorted(
            map(
                tuple,
                bounded_collect(
                    read_committed(spark, target),
                    10_000,
                    "pre-maintenance index contents",
                ),
            )
        )
        files_pre = committed_files(target)
        if compact(spark, target, min_files=1) <= 0:
            raise AssertionError("compaction found nothing to rewrite")
        if not vacuum(target, retain_versions=2):
            raise AssertionError("bounded-window vacuum reclaimed nothing")
        # Vacuum ran at head H with a 2-version window (cutoff H-2) and
        # its own marker commit is now head = H+1, so cutoff = head-3.
        head = _committed_version(target)
        cutoff = head - 3
        if read_committed(spark, target, version=cutoff).count() <= 0:
            raise AssertionError("in-window version no longer time-travels")
        try:
            read_committed(spark, target, version=cutoff - 1)
        except ValueError as e:
            if "retention horizon" not in str(e):
                raise
        else:
            raise AssertionError(
                "below-horizon read was served instead of refused"
            )
        rows = sorted(
            map(
                tuple,
                bounded_collect(
                    read_committed(spark, target),
                    10_000,
                    "post-maintenance index contents",
                ),
            )
        )
        if rows != want:
            raise AssertionError("maintenance pass moved index contents")
        if len(committed_files(target)) >= len(files_pre):
            raise AssertionError("live file count did not shrink")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows, "doc_id bigint, band_idx bigint, band_key string"
    )


# --------------------------------------------------------------------------
# cdc_index_incremental_mv — the r14 pinned CDC→index seam promoted to a
# driver-gated row (VERDICT r14 task 4): a derived postings index
# refreshed as an incremental materialized view from ONE poll of the
# source's typed change feed, in ONE scoped merge_sync commit.
# --------------------------------------------------------------------------
@register(
    "cdc_index_incremental_mv",
    oracle="""
    WITH head AS (
      SELECT doc_id,
             CASE WHEN doc_id < 10 THEN 'gamma ' || text ELSE text END AS text
      FROM documents WHERE doc_id < 50 AND doc_id % 10 <> 7
    ),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM head
    )
    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
    FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    """,
)
def q_cdc_index_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A derived index maintained as an INCREMENTAL MATERIALIZED VIEW of
    its source table (pinned at unit scale in tests/test_sinks.py::
    test_cdc_refreshes_derived_index_as_incremental_mv, promoted here,
    generalizing txlog_incremental_agg's discipline from aggregates to
    indexes): a tf postings index is built at the source's seed version
    (real document text, doc_id < 40), the source then evolves past the
    indexed version — revisions (docs 0-9 gain a 'gamma' token),
    arrivals (40-49), erasures (doc_id % 10 == 7: doc 7 is revised THEN
    erased so newest-wins must pick the delete; doc 47 arrives then
    erases, a net index no-op) — and ONE poll of ``table_changes``
    refreshes the index: reduce the poll to the newest change per doc,
    re-tokenize ONLY the docs still present, and apply in ONE atomic
    ``merge_sync`` commit whose delete clause is scoped to the poll's
    changed keys (the scoping literal Delta's
    whenNotMatchedBySourceDelete(condition) takes per micro-batch).
    Asserted in-query: the changed-key set is exactly the 23 touched
    docs, all three MERGE arms fired, and the maintained index equals a
    from-scratch rebuild of the source head (two-sided exceptAll). The
    returned relation is the maintained index, hash-gated against the
    DuckDB twin's head rebuild.

    Scale: refresh cost is O(poll delta) — unchanged docs are never
    re-tokenized and only files owning changed docs' rows rewrite; the
    changed-key list is poll-bounded, never table-sized. Reference
    contract generalized: loading.py:150-161's dedup-vs-all-history
    under continuous arrival + trigger_databricks_job.py:10-34's
    maintained merge target."""
    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        delete_where,
        merge_append,
        merge_sync,
        merge_upsert,
        read_committed,
        table_changes,
    )

    def postings(frame: DataFrame) -> DataFrame:
        toks = frame.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        ).filter(F.col("tok") != "")
        return toks.groupBy("doc_id", "tok").agg(
            F.count(F.lit(1)).cast("bigint").alias("tf")
        )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scratch = scratch_dir("stonkw_cdc_mv_")
    try:
        src = f"{scratch}/docs"
        idx = f"{scratch}/tf"
        merge_append(spark, src, docs.filter(F.col("doc_id") < 40), ["doc_id"])
        v_indexed = _committed_version(src)
        merge_append(
            spark, idx, postings(read_committed(spark, src)), ["doc_id", "tok"]
        )
        # Source evolves past the indexed version.
        merge_upsert(
            spark,
            src,
            docs.filter(F.col("doc_id") < 10).select(
                "doc_id", F.concat(F.lit("gamma "), F.col("text")).alias("text")
            ),
            ["doc_id"],
        )
        merge_upsert(
            spark,
            src,
            docs.filter(F.col("doc_id").between(40, 49)),
            ["doc_id"],
        )
        delete_where(spark, src, F.col("doc_id") % 10 == 7)
        feed = table_changes(spark, src, v_indexed, with_version=True)
        latest = (
            feed.filter(F.col("_change_type") != "update_preimage")
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy(
                        F.desc("_commit_version")
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
        )
        # Poll-bounded glue collect: the changed-key list (23 docs),
        # never the corpus — the merge_sync delete clause scopes to it.
        changed = [
            r.doc_id
            for r in bounded_collect(
                latest.select("doc_id"), 10_000, "poll changed-key list"
            )
        ]
        if len(changed) != 23:  # 0-9 revised, 40-49 arrived, 17/27/37 erased
            raise AssertionError(f"poll saw {len(changed)} changed docs")
        fresh = postings(
            latest.filter(F.col("_change_type") != "delete").select(
                "doc_id", "text"
            )
        )
        ins, upd, dele = merge_sync(
            spark,
            idx,
            fresh,
            ["doc_id", "tok"],
            delete_condition=F.col("doc_id").isin(changed),
        )
        if ins <= 0 or upd <= 0 or dele <= 0:
            raise AssertionError(
                f"MERGE arms not all exercised: ins={ins} upd={upd} del={dele}"
            )
        maintained = read_committed(spark, idx)
        rebuilt = postings(read_committed(spark, src))
        drift = (
            maintained.exceptAll(rebuilt).count()
            + rebuilt.exceptAll(maintained).count()
        )
        if drift:
            raise AssertionError(
                f"maintained index drifted from head rebuild by {drift} rows"
            )
        rows = bounded_collect(
            maintained.select("doc_id", "tok", "tf"),
            500_000,
            "maintained postings index",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "doc_id bigint, tok string, tf bigint")
