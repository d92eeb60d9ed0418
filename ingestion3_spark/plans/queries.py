"""Driver-facing query registry: SURVEY.md §2 operator coverage.

Each entry pairs a Spark DataFrame implementation with an ANSI-SQL oracle
(DuckDB) over the same parquet tables. Column names/aliases are identical on
both sides (the driver hashes values after sorting columns by name).

Every entry has an oracle (50/50); the sketch queries (minhash/simhash/
ANN) run md5-derived gate configs so DuckDB can recompute the same hashes,
with parity tests tying the gate config to the xxhash64 production path.

Operator coverage map (reference op -> entry):
  A6/W1  last-event-wins dedup        cdc_last_event_wins
  J1-J3  merge classify/upsert        cdc_merge_classify
  A5     HAVING dup-count             cdc_duplicate_events
  A2/A3  groupBy count ordered        cdc_ops_log
  S7     checkpoint offsets           cdc_checkpoint_offsets
  W1     sessionize (gap windows)     cdc_sessionize
  P4/J2  semi-join                    cdc_error_users
  P4/J1  anti-join                    cdc_signup_no_purchase
  A1-A7  TPC-H Q1 aggregate           q1_pricing_summary
  J*     5-way join + agg             q5_nation_revenue
  J4-J6  broadcast dim join           seg_broadcast_agg
  A11    rollup                       rollup_lineitem
  W1     running total                window_running_total
  W3     top-k per group              topk_orders_per_cust
  U1/U2  intersect                    nations_both_sides
  E1/E2  json extract + agg           props_k_distribution
  --     pivot                        orders_pivot
  §2.8   text kernels + lang-id       doc_stats, doc_fingerprint
  dedup  exact dup groups             doc_exact_dups
  dedup  n-gram jaccard               doc_jaccard_pairs
  dedup  minhash LSH                  doc_minhash_pairs
  dedup  simhash                      doc_simhash_pairs
  ANN    brute-force cosine top-k     knn_topk
  ANN    LSH bucketed top-k           ann_lsh_topk
  ANN    IVF coarse-quantized top-k   ann_ivf_topk
  dedup  embedding-cosine near-dup    doc_embed_dups
  S4     JSON-L record rendering      jsonl_render
  E1/A3  validate + message report    doc_validate_report
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ingestion3_spark.functions import dedupe, similarity, text
from ingestion3_spark.plans import sketch_oracles


def _parse_bytes(v: str) -> int:
    """Spark size-string -> bytes ('128m', '134217728b', '1g', '512k')."""
    v = str(v).strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "b": 1}
    if v and v[-1] in mult:
        return int(float(v[:-1])) * mult[v[-1]]
    return int(v)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read an input table, fanning out under-split scans.

    The sandbox fixtures are SINGLE-ROW-GROUP parquet files, and parquet
    cannot split below row-group granularity — so without this, every
    scan plans as ONE task and expression/UDF-heavy queries serialize on
    1 of N cores (measured: the minhash signature pass alone dropped
    28.6s -> ~1s at 32 cores). Fan out only when the file is non-trivial
    (>=32KB — tiny dimension tables skip the exchange) AND the scan
    yields fewer splits than the session's parallelism; production-scale
    inputs (many row groups / files) take the normal no-exchange path.
    Gate queries are order-insensitive by construction (they hash-match
    a DuckDB oracle with its own scan order), so the repartition cannot
    change any result. NEW gate queries must stay order-insensitive —
    no first()/limit-without-sort/monotonically_increasing_id over a
    fanned-out scan (tests/test_registry_pin.py pins the registry).

    The split estimate is pure file metadata (bytes vs
    ``spark.sql.files.maxPartitionBytes``) — the earlier
    ``df.rdd.getNumPartitions()`` probe forced a DataFrame->RDD plan
    conversion on every load and is unavailable under Spark Connect
    (round-3 advisory)."""
    import os as _os

    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if _os.environ.get("I3S_FANOUT_SCAN", "1") == "1":
        par = spark.sparkContext.defaultParallelism
        sizes = []
        if _os.path.isdir(path):
            for root, _dirs, files in _os.walk(path):
                sizes += [
                    _os.path.getsize(_os.path.join(root, f))
                    for f in files if f.endswith(".parquet")
                ]
        else:
            try:
                sizes = [_os.path.getsize(path)]
            except OSError:
                sizes = []
        total = sum(sizes)
        max_pb = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
        est_splits = sum(max(1, -(-s // max_pb)) for s in sizes)
        if total >= (32 << 10) and est_splits < par:
            df = df.repartition(par)
    return df


MID = "2024-01-16"  # events feed half-way split for the CDC-style queries


def fixed(col, scale: int = 100):
    """Exact fixed-point: per-row ROUND(x*scale) as int64.

    Double SUMs are order-dependent (non-associative IEEE adds) and differ
    between engines by ULPs, which flips ROUND() at .5 boundaries. Per-row
    fixed-point is computed identically in both engines, and the int64 SUM
    is exact — so aggregate money/ratio results are bit-stable.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale, 0).cast("long")


# --------------------------------------------------------------- CDC-shaped
def q_cdc_last_event_wins(spark, sf):
    """Deterministic last-event-wins dedup by (ts, event_id) — the engine's
    exactly-once core (cdc/dedup.py) expressed over the driver feed."""
    ev = load(spark, sf, "events")
    agg = ev.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_type", "value", "event_id"),
            F.struct("ts", "event_id"),
        ).alias("w")
    )
    return agg.select(
        "user_id",
        F.col("w.event_type").alias("last_type"),
        F.round(F.col("w.value"), 2).alias("last_value"),
        F.col("w.event_id").alias("last_event_id"),
    )


SQL_cdc_last_event_wins = f"""
SELECT user_id, event_type AS last_type, ROUND(value, 2) AS last_value,
       event_id AS last_event_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
  FROM events
) WHERE rn = 1
"""


def q_cdc_merge_classify(spark, sf):
    """MERGE classification insert/update/delete/invalid_delete
    (NaraMergeUtil.scala:242-266 semantics as pure joins)."""
    ev = load(spark, sf, "events")
    base = ev.filter(F.col("ts") < MID).select("user_id").distinct()
    delta_last = (
        ev.filter(F.col("ts") >= MID)
        .groupBy("user_id")
        .agg(F.max_by("event_type", F.struct("ts", "event_id")).alias("last_type"))
        .withColumn("op", F.when(F.col("last_type") == "error", "delete").otherwise("upsert"))
    )
    m = delta_last.join(base.withColumn("_in_base", F.lit(1)), "user_id", "left")
    return m.select(
        "user_id",
        F.when((F.col("op") == "delete") & F.col("_in_base").isNotNull(), "delete")
        .when(F.col("op") == "delete", "invalid_delete")
        .when(F.col("_in_base").isNotNull(), "update")
        .otherwise("insert")
        .alias("action"),
    )


SQL_cdc_merge_classify = f"""
WITH base AS (SELECT DISTINCT user_id FROM events WHERE ts < '{MID}'),
delta AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
    FROM events WHERE ts >= '{MID}'
  ) WHERE rn = 1
)
SELECT d.user_id,
       CASE WHEN d.op = 'delete' AND b.user_id IS NOT NULL THEN 'delete'
            WHEN d.op = 'delete' THEN 'invalid_delete'
            WHEN b.user_id IS NOT NULL THEN 'update'
            ELSE 'insert' END AS action
FROM delta d LEFT JOIN base b USING (user_id)
"""


def q_cdc_duplicate_events(spark, sf):
    """HAVING-style duplicate detection (NaraMergeUtil.scala:401-410)."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


SQL_cdc_duplicate_events = """
SELECT user_id, event_type, COUNT(*) AS n
FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 1
"""


def q_cdc_ops_log(spark, sf):
    """Ops-log summary: per-op counts + value totals (MergeLogs analog)."""
    ev = load(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum(fixed("value")) / 100.0).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


SQL_cdc_ops_log = """
SELECT event_type, COUNT(*) AS n,
       SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS total_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def q_cdc_checkpoint_offsets(spark, sf):
    """Per-partition applied-offset computation (checkpoint table shape)."""
    ev = load(spark, sf, "events")
    return (
        ev.withColumn("part", (F.col("user_id") % 4).cast("int"))
        .groupBy("part")
        .agg(F.max("event_id").alias("applied_seq"), F.count("*").alias("n_events"))
    )


SQL_cdc_checkpoint_offsets = """
SELECT CAST(user_id % 4 AS INT) AS part, MAX(event_id) AS applied_seq,
       COUNT(*) AS n_events
FROM events GROUP BY CAST(user_id % 4 AS INT)
"""


def q_cdc_sessionize(spark, sf):
    """Gap-based sessionization (30 min) via lag + cumulative sum window."""
    ev = load(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("timestamp").cast("long")
                - F.lag("ts").over(w).cast("timestamp").cast("long")
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events")
    )


SQL_cdc_sessionize = """
SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM (
    SELECT user_id, ts,
           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
  )
) GROUP BY user_id
"""


def q_cdc_error_users(spark, sf):
    """Semi-join: users having >=1 error event (P4 broadcast-set filter as a
    real left_semi, NaraMergeUtil.scala:160-166)."""
    ev = load(spark, sf, "events")
    errs = ev.filter(F.col("event_type") == "error").select("user_id")
    return ev.select("user_id").distinct().join(errs, "user_id", "left_semi")


SQL_cdc_error_users = """
SELECT user_id FROM (SELECT DISTINCT user_id FROM events) u
WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = u.user_id AND e.event_type = 'error')
"""


def q_cdc_signup_no_purchase(spark, sf):
    """Anti-join: signed-up users with no purchase (delta∖base pattern)."""
    ev = load(spark, sf, "events")
    signups = ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return signups.join(buyers, "user_id", "left_anti")


SQL_cdc_signup_no_purchase = """
SELECT DISTINCT user_id FROM events e WHERE event_type = 'signup'
AND NOT EXISTS (SELECT 1 FROM events p WHERE p.user_id = e.user_id AND p.event_type = 'purchase')
"""


# ------------------------------------------------------------------- TPC-H
def q_q1_pricing_summary(spark, sf):
    li = load(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(fixed("l_quantity")) / 100.0).alias("sum_qty"),
            (F.sum(fixed("l_extendedprice")) / 100.0).alias("sum_base_price"),
            (F.sum(fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)) / 10000.0).alias("sum_disc_price"),
            F.round(F.sum(fixed("l_quantity")) / 100.0 / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(fixed("l_discount", 10000)) / 10000.0 / F.count("*"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_q1_pricing_summary = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS sum_qty,
       SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) / 100.0 AS sum_base_price,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS sum_disc_price,
       ROUND(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) / 100.0 / COUNT(*), 6) AS avg_qty,
       ROUND(SUM(CAST(ROUND(l_discount * 10000, 0) AS BIGINT)) / 10000.0 / COUNT(*), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_q5_nation_revenue(spark, sf):
    r = load(spark, sf, "region")
    n = load(spark, sf, "nation")
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            (F.sum(fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000)) / 10000.0).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_q5_nation_revenue = """
SELECT n_name,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name
"""


def q_seg_broadcast_agg(spark, sf):
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), (F.sum(fixed("o_totalprice")) / 100.0).alias("total"))
    )


SQL_seg_broadcast_agg = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / 100.0 AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_rollup_lineitem(spark, sf):
    li = load(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        (F.sum(fixed("l_quantity")) / 100.0).alias("sum_qty"), F.count("*").alias("n")
    )


SQL_rollup_lineitem = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) / 100.0 AS sum_qty, COUNT(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_window_running_total(spark, sf):
    o = load(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(fixed("o_totalprice")).over(w) / 100.0).alias("running_total"),
    )


SQL_window_running_total = """
SELECT o_custkey, o_orderkey,
       SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) / 100.0 AS running_total
FROM orders
"""


def q_topk_orders_per_cust(spark, sf):
    o = load(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rank")
    )


SQL_topk_orders_per_cust = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_nations_both_sides(spark, sf):
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


SQL_nations_both_sides = """
SELECT DISTINCT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT DISTINCT s_nationkey AS nationkey FROM supplier
"""


def q_props_k_distribution(spark, sf):
    ev = load(spark, sf, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


SQL_props_k_distribution = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, COUNT(*) AS n
FROM events GROUP BY 1
"""


def q_orders_pivot(spark, sf):
    o = load(spark, sf, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
    )


SQL_orders_pivot = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
FROM orders GROUP BY o_orderpriority
"""


# ----------------------------------------------------------- text pipeline
def q_doc_stats(spark, sf):
    """Per-doc text analysis in one gated projection: word/token/stopword
    counters (quality scoring) plus the n-gram-heuristic language id
    (``functions/text.py`` predict_lang) — the former standalone ``lang_id``
    gate entry is folded in here (round-4) to fit the driver's 50-entry
    cap; both stay value-hashed against independent DuckDB recomputation."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        text.word_count("text").alias("n_words"),
        text.token_count("text").alias("n_tokens"),
        text.stopword_hits("text").alias("en_stopwords"),
        text.predict_lang("text").alias("pred_lang"),
    )


def q_doc_fingerprint(spark, sf):
    d = load(spark, sf, "documents")
    return d.select("doc_id", text.fingerprint("text").alias("fp"))


SQL_doc_fingerprint = r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


def _sql_lang_score(lang: str) -> str:
    sw = text.STOPWORDS[lang]
    return (
        f"CASE WHEN len(ws) > 0 THEN len(list_filter(ws, x -> list_contains({sw}, lower(x))))"
        f" / CAST(len(ws) AS DOUBLE) ELSE 0.0 END"
    )


SQL_doc_stats = rf"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
  FROM documents
), s AS (
  SELECT doc_id, text, ws,
    {_sql_lang_score('en')} AS s_en, {_sql_lang_score('de')} AS s_de,
    {_sql_lang_score('fr')} AS s_fr, {_sql_lang_score('es')} AS s_es
  FROM w
)
SELECT doc_id,
  len(ws) AS n_words,
  len(regexp_extract_all(text, '{text.TOKEN_PATTERN}')) AS n_tokens,
  len(list_filter(ws,
        x -> list_contains({text.STOPWORDS['en']}, lower(x)))) AS en_stopwords,
  CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) < 0.03 THEN 'und'
       WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
       WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es) THEN 'es'
       WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
       ELSE 'de' END AS pred_lang
FROM s
"""


def q_doc_exact_dups(spark, sf):
    # doc_ids emitted as a \x01-joined string: the driver's pandas
    # canonicalizer cannot sort/hash raw array cells (the round-2
    # string_normalize_kernels red) — the operator itself returns the array
    d = load(spark, sf, "documents")
    return dedupe.exact_dup_groups(d).select(
        "fp", "n_docs",
        F.array_join(F.col("doc_ids").cast("array<string>"), "\x01").alias("doc_ids"),
    )


SQL_doc_exact_dups = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
       COUNT(*) AS n_docs,
       array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), chr(1)) AS doc_ids
FROM documents
GROUP BY 1 HAVING COUNT(*) > 1
"""


def _docs_spread(spark, sf):
    """documents scan spread across cores before CPU-heavy sketch passes.

    The sandbox fixture is one parquet row group, which scans as ONE task;
    an explicit round-robin repartition of the narrow (id, text) rows is
    ~free here and irrelevant at scale (real inputs carry thousands of
    row groups, so the scan already fans out and callers can skip this)."""
    return (
        load(spark, sf, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", text.normalize_text("text").alias("text"))
    )


def q_doc_jaccard_pairs(spark, sf):
    d = _docs_spread(spark, sf)
    return dedupe.ngram_jaccard_pairs(d, threshold=0.5).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


SQL_doc_jaccard_pairs = r"""
WITH norm AS (
  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '), x -> x <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(ws) >= 3
         THEN [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]
         ELSE [array_to_string(ws, ' ')] END)) AS shingle
  FROM norm
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
FROM pairs JOIN sizes sa ON pairs.id_a = sa.doc_id
JOIN sizes sb ON pairs.id_b = sb.doc_id
WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
"""


def q_doc_minhash_pairs(spark, sf):
    """MinHash+LSH banding candidates (portable hash family, band-verified).

    The oracle re-derives the 32 splitmix64-mixed min-hashes in DuckDB
    (md5-based base hash + HUGEINT limb arithmetic) and checks the banding
    DEFINITION over an all-pairs join — independently verifying the
    bucket-join blocking has full recall."""
    d = _docs_spread(spark, sf)
    return dedupe.minhash_lsh_candidates(d, num_hashes=32, bands=8, portable=True)


SQL_doc_minhash_pairs = sketch_oracles.minhash_pairs_sql(num_hashes=32, bands=8)


def q_doc_simhash_pairs(spark, sf):
    """SimHash near-pairs at hamming<=8, pigeonhole-blocked on 9 chunks.

    The oracle computes the 64-bit bit-majority hashes in DuckDB and takes
    ALL pairs within the hamming bound (ground truth) — a recall check on
    the chunk blocking (round-1 bug: 4 chunks guaranteed only hamming<=3)."""
    d = _docs_spread(spark, sf)
    return dedupe.simhash_near_pairs(d, max_hamming=8, portable=True)


SQL_doc_simhash_pairs = sketch_oracles.simhash_pairs_sql(max_hamming=8, shingle_n=2)


# ------------------------------------------------------------- similarity
def _query_vectors(spark, sf):
    e = load(spark, sf, "embeddings")
    return e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


def q_knn_topk(spark, sf):
    e = load(spark, sf, "embeddings")
    out = similarity.brute_force_topk(e, _query_vectors(spark, sf), k=10)
    return out.select("qid", "vec_id", "rank", F.round("cos", 6).alias("cos"))


SQL_knn_topk = """
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 3),
flat AS (
  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
  FROM embeddings
), qflat AS (
  SELECT qid, unnest(qvec) AS v, generate_subscripts(qvec, 1) AS i FROM q
), dots AS (
  SELECT f.vec_id, qf.qid,
         SUM(CAST(f.v AS DOUBLE) * CAST(qf.v AS DOUBLE)) AS dp,
         SUM(CAST(f.v AS DOUBLE) * CAST(f.v AS DOUBLE)) AS na,
         SUM(CAST(qf.v AS DOUBLE) * CAST(qf.v AS DOUBLE)) AS nb
  FROM flat f JOIN qflat qf ON f.i = qf.i
  WHERE f.vec_id <> qf.qid
  GROUP BY f.vec_id, qf.qid
), scored AS (
  SELECT qid, vec_id, dp / (sqrt(na) * sqrt(nb)) AS cos,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, vec_id) AS rank
  FROM dots
)
SELECT qid, vec_id, rank, ROUND(cos, 6) AS cos FROM scored WHERE rank <= 10
"""


def q_ann_lsh_topk(spark, sf):
    """Random-hyperplane LSH top-k. The seeded planes are deterministic
    numpy output, embedded into the DuckDB oracle as double literals, so
    bucket assignment and the probe join verify cross-engine."""
    e = load(spark, sf, "embeddings")
    planes = similarity.hyperplanes(64, 8, seed=42)
    out = similarity.lsh_topk(e, _query_vectors(spark, sf), planes, k=10)
    return out.select("qid", "vec_id", "rank", F.round("cos", 6).alias("cos"))


SQL_ann_lsh_topk = sketch_oracles.lsh_topk_sql(dim=64, n_planes=8, seed=42, k=10)


# --------------------------------------------- enrichment kernels (§2.8)
# (case, expected_begin, expected_end) — EDTF level-1/2 semantics from
# utils/EDTFDate.scala:115-218 ('' = matched-but-unbounded, None = no parse)
_DATE_CASES = [
    ("1984", "1984", "1984"),                       # DateBuilder single year
    ("1984-1990", "1984", "1990"),                  # DateBuilder range
    ("1950s", "1950", "1959"),                      # decade
    ("circa 1920", "1920", "1920"),                 # circa
    ("not a date", None, None),                     # unparseable
    ("1984-22", "1984", "1984"),                    # EDTF season -> bare year
    ("1984?/1986~", "1984", "1986"),                # qualified interval
    ("19uu", "1900", "1999"),                       # unspecified century
    ("1984-05-12T10:30:00Z", "1984-05-12", "1984-05-12"),  # timestamp
    ("unknown/2000~", "", "2000"),                  # unknown begin endpoint
    ("1973/open", "1973", ""),                      # open interval
    ("1984-uu-uu", "1984-01-01", "1984-12-31"),     # unspecified month+day
]


def q_date_parse(spark, sf):
    """Date-range parsing kernel over a deterministic mixed date-string
    column derived from events: EDTF level-1/2 (seasons, qualified and
    unknown/open intervals, unspecified digits, timestamps —
    ``utils/EDTFDate.scala:115-218``) with DateBuilder patterns
    (``enrichments/date/DateBuilder.scala:16-55``) as the fallback, the
    reference's ParseDateEnrichment precedence."""
    from ingestion3_spark.functions.normalize import date_begin_end, edtf_begin_end

    ev = load(spark, sf, "events")
    raw = ev.select(
        F.element_at(
            F.array(*[F.lit(c) for c, _b, _e in _DATE_CASES]),
            (F.col("user_id") % len(_DATE_CASES) + 1).cast("int"),
        ).alias("raw_date")
    )
    e, b = edtf_begin_end("raw_date"), date_begin_end("raw_date")
    d = F.when(e["begin"].isNotNull() | e["end"].isNotNull(), e).otherwise(b)
    parsed = raw.withColumn("d", d)
    return (
        parsed.groupBy("raw_date", F.col("d.begin").alias("begin"), F.col("d.end").alias("end"))
        .agg(F.count("*").alias("n"))
    )


def _sql_date_parse() -> str:
    def lit(v):
        return "NULL" if v is None else "'" + v.replace("'", "''") + "'"

    cases = ", ".join(lit(c) for c, _b, _e in _DATE_CASES)
    b_map = " ".join(f"WHEN {lit(c)} THEN {lit(b)}" for c, b, _e in _DATE_CASES)
    e_map = " ".join(f"WHEN {lit(c)} THEN {lit(e)}" for c, _b, e in _DATE_CASES)
    n = len(_DATE_CASES)
    return f"""
WITH raw AS (
  SELECT ([{cases}])[CAST(user_id % {n} AS INT) + 1] AS raw_date FROM events
)
SELECT raw_date,
  CASE raw_date {b_map} END AS begin,
  CASE raw_date {e_map} END AS "end",
  COUNT(*) AS n
FROM raw GROUP BY 1, 2, 3
"""


SQL_date_parse = _sql_date_parse()


_RIGHTS_SLUGS = ["InC", "NoC-US", "CNE", "NotARealStatement"]


def q_rights_uri_normalize(spark, sf):
    """edmRights URI normalization chain (mappers/Mapper.scala:59-174) +
    EXACT vocabulary membership (model/DplaMapData.scala:175-768 mechanism:
    broadcast isin/InSet, not a shape regex). One slug is deliberately
    outside the vocabulary so both verdicts appear."""
    from ingestion3_spark.functions.normalize import (
        is_rights_uri_exact, normalize_rights_uri,
    )

    ev = load(spark, sf, "events")
    raw = ev.withColumn(
        "uri",
        F.concat(
            F.lit("https://www.rightsstatements.org/page/"),
            F.element_at(
                F.array(*[F.lit(s) for s in _RIGHTS_SLUGS]),
                (F.col("user_id") % 4 + 1).cast("int"),
            ),
            F.lit("/1.0"),
            F.when(F.col("event_id") % 2 == 0, F.lit("/rdf")).otherwise(F.lit("?lang=en")),
        ),
    )
    return (
        raw.withColumn("norm", normalize_rights_uri("uri"))
        .withColumn("recognized", is_rights_uri_exact("norm"))
        .groupBy("norm", "recognized")
        .agg(F.count("*").alias("n"))
    )


def _sql_rights_uri_normalize() -> str:
    from ingestion3_spark.functions.normalize import RIGHTS_URIS_BUNDLED

    slugs = ", ".join(f"'{s}'" for s in _RIGHTS_SLUGS)
    in_list = ", ".join(f"'{u}'" for u in RIGHTS_URIS_BUNDLED)
    return f"""
WITH raw AS (
  SELECT 'https://www.rightsstatements.org/page/'
         || ([{slugs}])[CAST(user_id % 4 AS INT) + 1] || '/1.0'
         || CASE WHEN event_id % 2 = 0 THEN '/rdf' ELSE '?lang=en' END AS uri
  FROM events
), norm AS (
  SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           uri,
           '^https://', 'http://'),
           '^http://www\\.', 'http://'),
           '/page/', '/vocab/'),
           '/rdf/?$', '/'),
           '\\?.*$', ''),
           '[\\.,;:\\s]+$', '') AS u
  FROM raw
), fin AS (
  SELECT CASE WHEN u LIKE '%/' THEN u ELSE u || '/' END AS norm FROM norm
)
SELECT norm, norm IN ({in_list}) AS recognized, COUNT(*) AS n
FROM fin GROUP BY 1, 2
"""


SQL_rights_uri_normalize = _sql_rights_uri_normalize()


def q_doc_completeness(spark, sf):
    """Completeness metrics (MetadataCompletenessReport analog, A7)."""
    from ingestion3_spark.operators.reports import completeness_report

    d = load(spark, sf, "documents")
    return completeness_report(d, ["text", "lang", "source"])


SQL_doc_completeness = """
SELECT AVG(CASE WHEN text IS NOT NULL THEN 1.0 ELSE 0.0 END) AS fill_text,
       AVG(CASE WHEN lang IS NOT NULL THEN 1.0 ELSE 0.0 END) AS fill_lang,
       AVG(CASE WHEN source IS NOT NULL THEN 1.0 ELSE 0.0 END) AS fill_source,
       AVG(((CASE WHEN text IS NOT NULL THEN 1.0 ELSE 0.0 END)
          + (CASE WHEN lang IS NOT NULL THEN 1.0 ELSE 0.0 END)
          + (CASE WHEN source IS NOT NULL THEN 1.0 ELSE 0.0 END)) / 3) AS mean_completeness
FROM documents
"""


def q_events_distinct_users(spark, sf):
    """Distinct-count (A4: the reference's double-groupBy, as countDistinct)."""
    ev = load(spark, sf, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


SQL_events_distinct_users = """
SELECT COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events FROM events
"""


def q_word_frequency(spark, sf):
    """Value-frequency report (A9/E2: explode + groupBy count) over words."""
    from ingestion3_spark.functions.text import words

    d = load(spark, sf, "documents")
    return (
        d.select(F.explode(words("text")).alias("value"))
        .groupBy("value")
        .agg(F.count("*").alias("n"))
    )


SQL_word_frequency = r"""
SELECT value, COUNT(*) AS n FROM (
  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS value
  FROM documents
) GROUP BY value
"""


def q_ann_ivf_topk(spark, sf):
    """IVF coarse-quantized ANN top-k (probe 1 of n_cells instead of the
    full corpus — the scale path). The checked configuration uses the
    deterministic coarse quantizer (centroids = the first n_cells vectors
    by id, a tiny model-load collect) so the DuckDB oracle reads the SAME
    model from the data; `similarity.kmeans_centroids` remains the
    trained-quantizer path (quality, not correctness)."""
    e = load(spark, sf, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding").orderBy("vec_id").collect()
    ]
    cell = similarity.ivf_cell(F.col("embedding"), cents)
    ec = e.withColumn("cell", cell)
    q = _query_vectors(spark, sf).withColumn(
        "cell", similarity.ivf_cell(F.col("qvec"), cents)
    )
    joined = ec.join(q, "cell").filter(F.col("vec_id") != F.col("qid"))
    cos = similarity.cosine(F.col("embedding"), F.col("qvec"))
    ranked = joined.select(
        "qid", "vec_id", F.round(cos, 6).alias("cos")
    ).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("qid").orderBy(F.desc("cos"), "vec_id")
        ),
    )
    return ranked.filter(F.col("rank") <= 10).select("qid", "vec_id", "rank", "cos")


SQL_ann_ivf_topk = sketch_oracles.ivf_topk_sql(n_cells=8, k=10)


def q_doc_embed_dups(spark, sf):
    """Embedding-cosine near-dup pairs (dedup family), sign-bucket blocked.

    The blocking key is deterministic (sign pattern of the first 8 dims), so
    unlike the seeded-RNG LSH the full operator keeps a SQL oracle."""
    e = load(spark, sf, "embeddings")
    out = dedupe.embed_near_pairs(e, threshold=0.3, sign_dims=8)
    return out.select("id_a", "id_b", F.round("cos", 6).alias("cos"))


SQL_doc_embed_dups = """
WITH b AS (
  SELECT vec_id, embedding,
    concat(CASE WHEN embedding[1]>=0 THEN '1' ELSE '0' END, CASE WHEN embedding[2]>=0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[3]>=0 THEN '1' ELSE '0' END, CASE WHEN embedding[4]>=0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[5]>=0 THEN '1' ELSE '0' END, CASE WHEN embedding[6]>=0 THEN '1' ELSE '0' END,
           CASE WHEN embedding[7]>=0 THEN '1' ELSE '0' END, CASE WHEN embedding[8]>=0 THEN '1' ELSE '0' END) AS sb
  FROM embeddings
), cand AS (
  SELECT a.vec_id ia, b.vec_id ib, a.embedding ea, b.embedding eb
  FROM b a JOIN b b ON a.sb = b.sb AND a.vec_id < b.vec_id
), flat AS (
  SELECT ia, ib, unnest(ea) va, unnest(eb) vb FROM cand
), dots AS (
  SELECT ia, ib, SUM(CAST(va AS DOUBLE)*CAST(vb AS DOUBLE)) dp,
         SUM(CAST(va AS DOUBLE)*CAST(va AS DOUBLE)) na,
         SUM(CAST(vb AS DOUBLE)*CAST(vb AS DOUBLE)) nb
  FROM flat GROUP BY ia, ib
)
SELECT ia AS id_a, ib AS id_b, ROUND(dp/(sqrt(na)*sqrt(nb)), 6) AS cos
FROM dots WHERE dp/(sqrt(na)*sqrt(nb)) >= 0.3
"""


def q_jsonl_render(spark, sf):
    """JSON-L index-record rendering (S4, ``model/package.scala:115-243``
    jsonlRecord + ``JsonlExecutor.scala:53-58``): one deterministic JSON
    string per record via to_json(struct(...)) — no per-record Python."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.to_json(F.struct("doc_id", "lang", "source", "n_chars")).alias("jsonl"),
    )


SQL_jsonl_render = """
SELECT doc_id,
       to_json(struct_pack(doc_id := doc_id, lang := lang, source := source,
                           n_chars := n_chars))::VARCHAR AS jsonl
FROM documents
"""


_KNOWN_LANGS = "('en','de','fr','es')"


def q_doc_validate_report(spark, sf):
    """Validation cascade + message explode + (field, level) report — the
    full Mapper/MessageCollector/MessageProcessor path (§2.8 validators,
    E1 message explode, A3 grouped report) over the documents table.

    Never throws per-record: each check appends a message struct; the
    report is one groupBy over the exploded messages array."""
    d = load(spark, sf, "documents")
    checks = F.array(
        F.when(
            F.trim(F.coalesce(F.col("text"), F.lit(""))) == "",
            F.struct(F.lit("empty text").alias("message"), F.lit("error").alias("level"),
                     F.lit("text").alias("field")),
        ),
        F.when(
            F.col("n_chars") != F.length("text"),
            F.struct(F.lit("n_chars mismatch").alias("message"), F.lit("error").alias("level"),
                     F.lit("n_chars").alias("field")),
        ),
        F.when(
            ~F.col("lang").isin("en", "de", "fr", "es"),
            F.struct(F.lit("unmapped language").alias("message"), F.lit("warn").alias("level"),
                     F.lit("lang").alias("field")),
        ),
        F.when(
            F.length("text") < 64,
            F.struct(F.lit("short document").alias("message"), F.lit("warn").alias("level"),
                     F.lit("text").alias("field")),
        ),
    )
    msgs = d.select(F.explode(F.filter(checks, lambda m: m.isNotNull())).alias("m"))
    return (
        msgs.groupBy(F.col("m.message").alias("message"),
                     F.col("m.level").alias("level"),
                     F.col("m.field").alias("field"))
        .agg(F.count("*").alias("n"))
    )


SQL_doc_validate_report = f"""
WITH m AS (
  SELECT 'empty text' AS message, 'error' AS level, 'text' AS field FROM documents
    WHERE trim(coalesce(text, '')) = ''
  UNION ALL
  SELECT 'n_chars mismatch', 'error', 'n_chars' FROM documents WHERE n_chars <> length(text)
  UNION ALL
  SELECT 'unmapped language', 'warn', 'lang' FROM documents WHERE lang NOT IN {_KNOWN_LANGS}
  UNION ALL
  SELECT 'short document', 'warn', 'text' FROM documents WHERE length(text) < 64
)
SELECT message, level, field, COUNT(*) AS n FROM m GROUP BY 1, 2, 3
"""


# ------------------------------------------------- vocabulary enrichment (J4/J5)
_DCMI_TERMS = [
    "Photograph", "book", "  sound ", "Moving Image",
    "dataset", "sculpture", "hologram", "ephemera",
]


def q_vocab_enrich(spark, sf):
    """Vocabulary-enrichment joins (J4/J5): ISO-639 language lookup over
    documents.lang + DCMI type lookup over a deterministic term column
    (two of the eight terms are deliberately outside the vocabulary so the
    warn-on-miss path appears). Broadcast map joins, zero fact shuffle
    (LanguageEnrichment.scala:8-109, TypeEnrichment.scala:17-209)."""
    from ingestion3_spark.functions import enrich

    d = load(spark, sf, "documents").withColumn(
        "type_term",
        F.element_at(
            F.array(*[F.lit(t) for t in _DCMI_TERMS]),
            (F.col("doc_id") % 8 + 1).cast("int"),
        ),
    )
    e = enrich.vocab_enrich(d, "lang", enrich.ISO639_1, "language",
                            "unmapped language")
    e = enrich.vocab_enrich(e, "type_term", enrich.DCMI_TYPE_MAP, "dcmi_type",
                            "unmapped type")
    return e.groupBy("lang", "language", "type_term", "dcmi_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("language_msg").isNotNull().cast("long")).alias("lang_misses"),
        F.sum(F.col("dcmi_type_msg").isNotNull().cast("long")).alias("type_misses"),
    )


def _sql_vocab_enrich() -> str:
    from ingestion3_spark.functions import enrich

    terms = ", ".join(f"'{t}'" for t in _DCMI_TERMS)
    return f"""
WITH lang_vocab(term, language) AS {enrich.mapping_values_sql(enrich.ISO639_1)},
type_vocab(term, dcmi_type) AS {enrich.mapping_values_sql(enrich.DCMI_TYPE_MAP)},
base AS (
  SELECT lang, ([{terms}])[CAST(doc_id % 8 AS INT) + 1] AS type_term
  FROM documents
)
SELECT b.lang, lv.language, b.type_term, tv.dcmi_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN b.lang IS NOT NULL AND lv.language IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_misses,
       CAST(SUM(CASE WHEN b.type_term IS NOT NULL AND tv.dcmi_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS type_misses
FROM base b
LEFT JOIN lang_vocab lv ON lower(trim(regexp_replace(b.lang, '\\s+', ' ', 'g'))) = lv.term
LEFT JOIN type_vocab tv ON lower(trim(regexp_replace(b.type_term, '\\s+', ' ', 'g'))) = tv.term
GROUP BY 1, 2, 3, 4
"""


SQL_vocab_enrich = _sql_vocab_enrich()


# ------------------------------------------------------- XML extraction (§2.8)
def q_xml_extract(spark, sf):
    """XML payload parse + extract + error routing (Extractor DSL analog,
    mappers/utils/Extractor.scala:10-258; OaiXmlParser.scala:14-90).

    XML strings are derived deterministically from events; every 7th user's
    record is truncated mid-document, and PERMISSIVE parsing routes those
    as errors instead of failing the scan. The oracle reconstructs the
    expected extraction directly from the source columns."""
    from ingestion3_spark.functions import xml as X

    ev = load(spark, sf, "events")
    well = F.concat(
        F.lit("<record><type>"), F.col("event_type"),
        F.lit("</type><user>"), F.col("user_id").cast("string"),
        F.lit("</user></record>"),
    )
    bad = F.concat(F.lit("<record><type>"), F.col("event_type"))
    raw = ev.withColumn("x", F.when(F.col("user_id") % 7 == 0, bad).otherwise(well))
    parsed = X.parse_xml(raw, "x", "type string, user bigint")
    return (
        parsed.select(
            X.extract_string("xml", "type").alias("xtype"),
            X.xml_error("xml", "user").alias("is_err"),
            (X.extract_string("xml", "user") == F.col("user_id")).alias("roundtrip"),
        )
        .groupBy("xtype")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("is_err").cast("long")).alias("parse_errors"),
            F.sum(F.coalesce(F.col("roundtrip"), F.lit(False)).cast("long")).alias("user_roundtrip"),
        )
    )


SQL_xml_extract = """
WITH parsed AS (
  SELECT CASE WHEN user_id % 7 = 0 THEN NULL ELSE event_type END AS xtype,
         (user_id % 7 = 0) AS is_err
  FROM events
)
SELECT xtype, COUNT(*) AS n,
       CAST(SUM(CASE WHEN is_err THEN 1 ELSE 0 END) AS BIGINT) AS parse_errors,
       CAST(SUM(CASE WHEN is_err THEN 0 ELSE 1 END) AS BIGINT) AS user_roundtrip
FROM parsed GROUP BY 1
"""


# ------------------------------------- string-normalization kernel sweep (§2.8)
_NORM_CASES = [
    "  foo   bar  ",
    "<p>Hello &amp; <b>world</b></p>",
    ";;- hello world -;;",
    "a sentence. another one. ",
    "[Unclosed bracket",
    "ends with]",
    "35.58N, 83.50W",
    'say "what"; one; two ;; three ;',
    "mixed text...",
    "42nd street entry.",
]


def q_string_normalize_kernels(spark, sf):
    """Every §2.8 string-normalization kernel over a deterministic raw
    string column (StringNormalizationUtilsTest.scala:31-50 pairs as a
    driver-checked query; the oracle re-implements each kernel in DuckDB's
    RE2 dialect — an independent second implementation)."""
    from ingestion3_spark.functions import normalize as N

    ev = load(spark, sf, "events")
    raw = F.element_at(
        F.array(*[F.lit(s) for s in _NORM_CASES]),
        (F.col("user_id") % 10 + 1).cast("int"),
    )
    d = ev.select(raw.alias("raw"))
    out = d.select(
        "raw",
        N.reduce_whitespace("raw").alias("ws"),
        N.strip_html("raw").alias("html"),
        N.cleanup_leading_punctuation("raw").alias("lead"),
        N.cleanup_ending_punctuation("raw").alias("endp"),
        N.cleanup_ending_comma_and_space("raw").alias("comma"),
        N.strip_ending_period("raw").alias("period"),
        N.capitalize_first_char("raw").alias("cap"),
        N.convert_to_sentence_case("raw").alias("sentence"),
        N.limit_characters("raw", 10).alias("limit10"),
        N.strip_dbl_quotes("raw").alias("quotes"),
        N.strip_unmatched_opening_brackets("raw").alias("openb"),
        N.strip_unmatched_closing_brackets("raw").alias("closeb"),
        N.cleanup_geocoordinates("raw").alias("geo"),
        # Joined to scalar strings (\x01 delimiter): the driver's pandas
        # canonicalizer cannot sort/hash raw array<string> cells (r2's one
        # red row); the join is lossless for these fixtures.
        F.array_join(N.split_at_delimiter("raw", ";"), "\x01").alias("split_arr"),
        F.array_join(
            N.apply_block_filter(N.split_at_delimiter("raw", ";"), ["two", "^say"]), "\x01"
        ).alias("blocked"),
        # A10 per-field multi-valued dedup (Deduplication.scala:16-75):
        # first-occurrence-order distinct over the split terms
        F.array_join(
            N.array_distinct_ordered(N.split_at_delimiter("raw", ";")), "\x01"
        ).alias("dedup_arr"),
    )
    return out.groupBy(*out.columns).agg(F.count("*").alias("n"))


def _sql_string_normalize_kernels() -> str:
    cases = ", ".join("'" + s.replace("'", "''") + "'" for s in _NORM_CASES)
    return rf"""
WITH d AS (
  SELECT ([{cases}])[CAST(user_id % 10 AS INT) + 1] AS raw FROM events
), k AS (
  SELECT raw,
    trim(regexp_replace(raw, '[\s ]+', ' ', 'g')) AS ws,
    trim(regexp_replace(
      replace(replace(replace(replace(
        regexp_replace(raw, '<[^>]*>', ' ', 'g'),
        '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      '[\s ]+', ' ', 'g')) AS html,
    regexp_replace(raw, '^[-;:,\\/\s]+', '') AS lead,
    regexp_replace(raw, '[-;:,\\/\s]+$', '') AS endp,
    regexp_replace(raw, '[,\s]+$', '') AS comma,
    regexp_replace(raw, '(^|[^.])\.\s*$', '\1') AS period,
    CASE WHEN regexp_extract(raw, '^[^A-Za-z]*([A-Za-z])', 1) = '' THEN raw
         ELSE regexp_extract(raw, '^([^A-Za-z]*)', 1)
              || upper(regexp_extract(raw, '^[^A-Za-z]*([A-Za-z])', 1))
              || regexp_replace(raw, '^[^A-Za-z]*[A-Za-z]', '') END AS cap,
    array_to_string(
      list_filter(
        list_transform(string_split_regex(raw, '\.\s*'),
                       s -> CASE WHEN len(s) > 0 THEN upper(s[1]) || s[2:] ELSE s END),
        s -> s <> ''),
      '. ') AS sentence,
    substring(raw, 1, 10) AS limit10,
    replace(raw, '"', '') AS quotes,
    CASE WHEN starts_with(raw, '[') AND NOT contains(raw, ']')
         THEN substring(raw, 2) ELSE raw END AS openb,
    CASE WHEN suffix(raw, ']') AND NOT contains(raw, '[')
         THEN substring(raw, 1, len(raw) - 1) ELSE raw END AS closeb,
    CASE WHEN regexp_extract(raw, '^(-?\d+\.?\d*)[NS]?,?\s*(-?\d+\.?\d*)[EW]?$', 1) <> ''
          AND regexp_extract(raw, '^(-?\d+\.?\d*)[NS]?,?\s*(-?\d+\.?\d*)[EW]?$', 2) <> ''
         THEN regexp_extract(raw, '^(-?\d+\.?\d*)[NS]?,?\s*(-?\d+\.?\d*)[EW]?$', 1)
              || ', ' ||
              regexp_extract(raw, '^(-?\d+\.?\d*)[NS]?,?\s*(-?\d+\.?\d*)[EW]?$', 2)
         ELSE '' END AS geo,
    array_to_string(sp, chr(1)) AS split_arr,
    array_to_string(
      list_filter(sp, s -> NOT regexp_matches(s, '(?i)(?:two)|(?:^say)')),
      chr(1)) AS blocked,
    array_to_string(
      list_filter(sp, (s, i) -> list_position(sp, s) = i),
      chr(1)) AS dedup_arr
  FROM (
    SELECT raw,
      list_filter(list_transform(string_split(raw, ';'), s -> trim(s)), s -> s <> '') AS sp
    FROM d
  )
)
SELECT *, COUNT(*) AS n FROM k
GROUP BY ALL
"""


SQL_string_normalize_kernels = _sql_string_normalize_kernels()


# --------------------------------------- training-pipeline operators (r3)
PACK_MAX_LEN = 512


def q_token_packing(spark, sf):
    """Training-sequence packing (operators/packing.py): docs ordered by
    doc_id are laid head-to-tail and cut into 512-token packs via a
    DISTRIBUTED two-level prefix sum (range partitions -> local window
    prefix + driver-summed partition offsets) — no single-partition global
    window. Output: per-pack doc count and token total."""
    from ingestion3_spark.operators.packing import pack_sequences

    d = load(spark, sf, "documents").select(
        "doc_id", text.token_count("text").alias("n_tok")
    )
    packed = pack_sequences(d, "doc_id", "n_tok", PACK_MAX_LEN)
    return packed.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("pack_tok")
    )


SQL_token_packing = rf"""
WITH t AS (
  SELECT doc_id, len(regexp_extract_all(text, '{text.TOKEN_PATTERN}')) AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
  FROM t
)
SELECT CAST(excl // {PACK_MAX_LEN} AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tok
FROM c GROUP BY 1
"""


def q_dup_clusters(spark, sf):
    """Near-dup CLUSTERS: connected components (operators/components.py,
    iterative min-label propagation over narrow joins) on the Jaccard>=0.5
    candidate-pair graph; cluster_id = component min doc_id. The DuckDB
    oracle recomputes components with a recursive transitive-closure CTE —
    an independent algorithm."""
    from ingestion3_spark.operators.components import connected_components

    d = _docs_spread(spark, sf)
    pairs = dedupe.ngram_jaccard_pairs(d, threshold=0.5).select("id_a", "id_b")
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


SQL_dup_clusters = None  # assigned below (needs SQL_doc_jaccard_pairs)


def q_doc_sample_stratified(spark, sf):
    """Deterministic per-stratum downsampling (functions/sampling.py):
    keep iff pmod(portable_hash64(doc_id), 1000) < rate[lang] — pure
    projection, reproducible across runs/engines/cluster sizes (vs
    sampleBy's partition-RNG draw)."""
    from ingestion3_spark.functions.sampling import stratified_sample

    d = load(spark, sf, "documents").select("doc_id", "lang", "source")
    out = stratified_sample(
        d, "doc_id", "lang",
        {"en": 500, "de": 300, "fr": 300}, default_per_mille=100,
    )
    return out.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("sum_ids"),
    )


SQL_doc_sample_stratified = """
WITH h AS (
  SELECT doc_id, lang,
    CASE WHEN md5_number_upper(CAST(doc_id AS VARCHAR)) >= 9223372036854775808
         THEN md5_number_upper(CAST(doc_id AS VARCHAR))::HUGEINT - 18446744073709551616
         ELSE md5_number_upper(CAST(doc_id AS VARCHAR))::HUGEINT END AS hs
  FROM documents
)
SELECT lang, COUNT(*) AS n_kept, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM h
WHERE ((hs % 1000) + 1000) % 1000 <
      CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 300
                WHEN 'fr' THEN 300 ELSE 100 END
GROUP BY 1
"""


def q_doc_length_quantiles(spark, sf):
    """Exact per-language length quantiles (quality-scoring support stat):
    Spark ``percentile`` (exact, linear interpolation) == DuckDB
    ``quantile_cont``."""
    d = load(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.percentile("n_chars", 0.25).alias("q25"),
        F.percentile("n_chars", 0.5).alias("q50"),
        F.percentile("n_chars", 0.75).alias("q75"),
        F.percentile("n_chars", 0.9).alias("q90"),
    )


SQL_doc_length_quantiles = """
SELECT lang, COUNT(*) AS n,
       quantile_cont(n_chars, 0.25) AS q25,
       quantile_cont(n_chars, 0.50) AS q50,
       quantile_cont(n_chars, 0.75) AS q75,
       quantile_cont(n_chars, 0.90) AS q90
FROM documents GROUP BY 1
"""


# J6 eligibility table: (source, lang) -> flags, the WikiMapper/
# InstitutionsLoader 2-key lookup shape (wiki/WikiMapper.scala:85-152)
WIKI_ELIG = {
    ("src0", "en"): {"media_ok": "yes", "tier": "gold"},
    ("src1", "en"): {"media_ok": "yes", "tier": "silver"},
    ("src2", "de"): {"media_ok": "no", "tier": "bronze"},
    ("src3", "fr"): {"media_ok": "yes", "tier": "silver"},
    ("src4", "en"): {"media_ok": "no", "tier": "gold"},
}


def q_wiki_eligibility(spark, sf):
    """J6 two-key eligibility join (functions/enrich.py:eligibility_join):
    (source, lang) probed against a broadcast institutions table; rows
    with no entry are ineligible (null flags)."""
    from ingestion3_spark.functions.enrich import eligibility_join

    d = load(spark, sf, "documents").select("doc_id", "source", "lang")
    out = eligibility_join(d, ("source", "lang"), WIKI_ELIG, ("media_ok", "tier"))
    return out.groupBy("media_ok", "tier").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_en"),
    )


def _sql_wiki_eligibility() -> str:
    rows = ", ".join(
        f"('{k[0]}', '{k[1]}', '{v['media_ok']}', '{v['tier']}')"
        for k, v in sorted(WIKI_ELIG.items())
    )
    return f"""
WITH elig(src, lng, media_ok, tier) AS (VALUES {rows})
SELECT e.media_ok, e.tier, COUNT(*) AS n_docs,
       COUNT(CASE WHEN d.lang = 'en' THEN 1 END) AS n_en
FROM documents d
LEFT JOIN elig e ON d.source = e.src AND d.lang = e.lng
GROUP BY 1, 2
"""


SQL_wiki_eligibility = _sql_wiki_eligibility()


def q_avro_roundtrip(spark, sf):
    """S1+S2 under the driver gate: events projected, written as Avro
    container files (sources/io.py — spark-avro when present, else the
    distributed pure-Python codec sources/avro_codec.py), read back
    distributed, and aggregated; the oracle aggregates the original
    parquet directly, so any encode/decode corruption breaks the hash."""
    import uuid as _uuid

    from ingestion3_spark.sources.io import read_avro, write_avro

    ev = load(spark, sf, "events").select(
        "event_id", "user_id", "event_type",
        fixed("value", 100).alias("value_c"),
    )
    path = f"/tmp/i3s_avro_gate_{_uuid.uuid4().hex[:10]}"
    write_avro(ev, path)
    back = read_avro(spark, path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("user_id").alias("sum_user"),
        F.sum("value_c").alias("sum_value_c"),
    )


SQL_avro_roundtrip = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_user,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_c
FROM events GROUP BY 1
"""


# ----------------------------------------------- streaming driver entries
def _event_stream(spark, sf):
    """events.parquet as a bounded Structured Streaming source (availableNow
    drains it in deterministic batches)."""
    static = load(spark, sf, "events")
    return (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf)
    )


def _run_to_memory(stream_df, mode: str) -> "DataFrame":
    import uuid as _uuid

    name = "q_stream_" + _uuid.uuid4().hex[:10]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return stream_df.sparkSession.table(name)


def q_streaming_dedup_state(spark, sf):
    """Stateful streaming dedup under the driver gate: the
    ``applyInPandasWithState`` per-key seq high-water-mark operator
    (streaming/stateful.py — the streaming twin of the batch
    last-event-wins dedup, ``NaraMergeUtil.scala:129-135`` upgraded) run
    with an availableNow trigger over the events table. ``seq`` is
    ``event_id % 1000`` so every user sees re-delivered sequence numbers;
    the emitted set per user is exactly its distinct seqs (single source
    file -> single micro-batch; the operator suppresses within-batch
    re-deliveries deterministically). Output: per-user emitted-row count +
    max emitted seq, equal to DuckDB's COUNT(DISTINCT)/MAX."""
    from ingestion3_spark.streaming.stateful import dedup_stream

    ev = _event_stream(spark, sf).select(
        F.col("user_id"),
        F.pmod(F.col("event_id"), F.lit(1000)).cast("long").alias("seq"),
    )
    deduped = dedup_stream(ev, key_col="user_id", output_schema="user_id long, seq long")
    tbl = _run_to_memory(deduped, "append")
    return tbl.groupBy("user_id").agg(
        F.count("*").alias("n_emitted"), F.max("seq").alias("max_seq")
    )


SQL_streaming_dedup_state = """
SELECT user_id,
       COUNT(DISTINCT event_id % 1000) AS n_emitted,
       MAX(event_id % 1000) AS max_seq
FROM events GROUP BY user_id
"""


def q_streaming_window_counts(spark, sf):
    """Watermarked tumbling-window counts (streaming/windows.py) drained
    with availableNow into a complete-mode memory sink — every window is
    emitted, so the result equals the batch hour-bucket aggregation the
    DuckDB oracle computes. Append-mode emission (window finalized when
    the watermark passes) is exercised in pytest; complete mode is used
    here because the gate needs the trailing unfinalized windows too."""
    from ingestion3_spark.streaming.windows import windowed_event_counts

    # watermarks require TIMESTAMP (with zone); the parquet ts is NTZ
    src = _event_stream(spark, sf).withColumn("ts", F.col("ts").cast("timestamp"))
    out = windowed_event_counts(
        src,
        ts_col="ts",
        key_col="event_type",
        window="1 hour",
        watermark="10 minutes",
    )
    tbl = _run_to_memory(out, "complete")
    return tbl.select("window_start", "event_type", "n")


SQL_streaming_window_counts = """
SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def _cdc_feed_from_events(spark, sf):
    """Deterministic upsert/delete feed derived from the events table so a
    full replay's final state is SQL-expressible: seq=event_id (globally
    unique), doc_id keyed by user, 'error' events become deletes, payload
    tokens encode (user_id%97, event_id%89) so the stored winner payload is
    distinguishable per event."""
    ev = load(spark, sf, "events")
    is_del = F.col("event_type") == "error"
    return ev.select(
        F.col("event_id").alias("seq"),
        F.pmod(F.col("user_id"), F.lit(4)).cast("int").alias("part"),
        F.when(is_del, "delete").otherwise("insert").alias("op"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("doc_id"),
        F.when(is_del, F.lit(None).cast("array<int>")).otherwise(
            F.array(
                F.pmod(F.col("user_id"), F.lit(97)).cast("int"),
                F.pmod(F.col("event_id"), F.lit(89)).cast("int"),
            )
        ).alias("tokens"),
        F.when(is_del, F.lit(None).cast("int")).otherwise(F.lit(2)).alias("n_tok"),
        F.when(is_del, F.lit(None).cast("string")).otherwise(F.col("event_type")).alias("source"),
    )


def q_mor_replay_state(spark, sf):
    """Merge-on-read replay AND compaction under one driver row: the same
    derived feed replayed in TWO micro-batches into a ``merge_mode="mor"``
    LakeTable — upserts/delete-markers land as O(delta) delta files (the
    10^10-scale design point; contrast the reference's full-rewrite merge,
    ``NaraMergeUtil.scala:54-320``) and the read path applies the layers
    as a left-anti join of the base against the delta key set plus the
    latest live delta row per key (``lakehouse/table.py`` _scan).
    The state aggregate is taken TWICE — ``stage='mor'`` straight off the
    layered read, then after ``compact()`` (Iceberg rewrite_data_files
    analog) ``stage='compacted'`` off the folded base files — and both are
    unioned under the value hash, so delta-layer reconciliation, delete
    markers, cross-batch upsert precedence, AND the rewrite's
    delete-marker elimination + replace-commit are all oracle-checked in
    a single gate entry (round-4 fold: the former ``mor_compact_state``
    entry shared this oracle and is absorbed here to fit the driver's
    50-entry cap)."""
    import uuid as _uuid

    from ingestion3_spark.cdc.replay import ReplayEngine

    base = f"/tmp/i3s_mor_gate_{_uuid.uuid4().hex[:10]}"
    table = ReplayEngine.create_table(
        spark, f"{base}/table", num_buckets=8, merge_mode="mor"
    )
    eng = ReplayEngine(spark, table, error_dir=f"{base}/err")
    eng.replay(_cdc_feed_from_events(spark, sf), num_batches=2)

    def _state(stage):
        return table.read().groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("sum_ntok"),
            F.sum(F.element_at("tokens", 1).cast("bigint")).alias("sum_tok0"),
            F.sum(F.element_at("tokens", 2).cast("bigint")).alias("sum_tok1"),
        ).withColumn("stage", F.lit(stage))

    # materialize the layered-read answer (a handful of source groups)
    # BEFORE the rewrite replaces the files it reads
    pre = _state("mor")
    pre = spark.createDataFrame(pre.collect(), pre.schema)
    table.compact(min_files=1)
    return pre.unionByName(_state("compacted"))


SQL_mor_replay_state = """
WITH feed AS (
  SELECT event_id AS seq,
         'u' || CAST(user_id AS VARCHAR) AS doc_id,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS source,
         user_id % 97 AS tok0,
         event_id % 89 AS tok1
  FROM events
), w AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
  FROM feed
), state AS (
  SELECT source, COUNT(*) AS n_docs,
         2 * COUNT(*) AS sum_ntok,
         CAST(SUM(tok0) AS BIGINT) AS sum_tok0,
         CAST(SUM(tok1) AS BIGINT) AS sum_tok1
  FROM w WHERE rn = 1 AND op <> 'delete'
  GROUP BY 1
)
SELECT *, 'mor' AS stage FROM state
UNION ALL
SELECT *, 'compacted' AS stage FROM state
"""


def q_schema_evolution_replay(spark, sf):
    """Schema evolution mid-replay under the driver gate (the north rule's
    add/rename/widen metadata transactions — reference analog: the warn-only
    ``harvesters/Harvester.scala`` validateSchema, upgraded to Iceberg-style
    versioned-schema transactions in ``lakehouse/table.py:572-601``).

    A deterministic upsert/delete feed is derived from the events table
    (seq=event_id unique, doc_id keyed by user, 'error' events become
    deletes). Phase 1 replays seq<5000 into a fresh LakeTable; then three
    metadata-only transactions run: add ``lang`` string, widen ``n_tok``
    int->bigint, rename ``source``->``src``; phase 2 replays the rest with
    the evolved feed shape. The final read maps old data files through the
    field-id mapping (phase-1 winners surface lang=NULL, renamed src, and
    widened n_tok), so the aggregate checks evolution + replay + upsert
    semantics end-to-end against a pure-SQL last-event-wins oracle."""
    import uuid as _uuid

    from ingestion3_spark.cdc.replay import ReplayEngine

    base = f"/tmp/i3s_evolve_gate_{_uuid.uuid4().hex[:10]}"
    table = ReplayEngine.create_table(spark, f"{base}/table", num_buckets=8)
    eng = ReplayEngine(spark, table, error_dir=f"{base}/err")

    feed = _cdc_feed_from_events(spark, sf)
    eng.replay(feed.filter(F.col("seq") < 5000), num_batches=1)

    table.add_column("lang", "string")
    table.widen_column("n_tok", "bigint")
    table.rename_column("source", "src")

    feed2 = (
        feed.filter(F.col("seq") >= 5000)
        .withColumnRenamed("source", "src")
        .withColumn("n_tok", F.col("n_tok").cast("bigint"))
        .withColumn(
            "lang",
            F.when(F.col("op") == "delete", F.lit(None).cast("string")).otherwise(
                F.col("src")
            ),
        )
    )
    eng.replay(feed2, num_batches=1)

    return table.read().groupBy("src", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("sum_ntok"),
        F.sum(F.element_at("tokens", 1).cast("bigint")).alias("sum_tok0"),
        F.sum(F.element_at("tokens", 2).cast("bigint")).alias("sum_tok1"),
    )


SQL_schema_evolution_replay = """
WITH feed AS (
  SELECT event_id AS seq,
         'u' || CAST(user_id AS VARCHAR) AS doc_id,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS src,
         CASE WHEN event_type = 'error' OR event_id < 5000 THEN NULL
              ELSE event_type END AS lang,
         user_id % 97 AS tok0,
         event_id % 89 AS tok1
  FROM events
), w AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
  FROM feed
)
SELECT src, lang, COUNT(*) AS n_docs,
       2 * COUNT(*) AS sum_ntok,
       CAST(SUM(tok0) AS BIGINT) AS sum_tok0,
       CAST(SUM(tok1) AS BIGINT) AS sum_tok1
FROM w WHERE rn = 1 AND op <> 'delete'
GROUP BY 1, 2
"""


def q_csv_log_roundtrip(spark, sf):
    """S6 (CSV log sink) + S5 (text scan) under the driver gate: the
    per-event-type count/value report is written through
    ``sources.io.write_csv_log`` (utils/Utils.scala:170-181 analog), its
    line count audited via the raw text scan (S5, the reference's
    post-write count), then read back with an explicit schema and
    re-emitted — any quoting/typing corruption in the sink or scan breaks
    the value hash against the straight-from-parquet oracle."""
    import uuid as _uuid

    from ingestion3_spark.sources.io import write_csv_log

    report = (
        load(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(fixed("value", 100)).alias("sum_value_c"))
    )
    path = f"/tmp/i3s_csv_gate_{_uuid.uuid4().hex[:10]}"
    write_csv_log(report, path)
    n_lines = spark.read.text(path).count()  # header + data rows (S5)
    back = spark.read.option("header", "true").schema(
        "event_type string, n long, sum_value_c long"
    ).csv(path)
    return back.withColumn("n_csv_lines", F.lit(n_lines).cast("long"))


SQL_csv_log_roundtrip = """
WITH r AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_value_c
  FROM events GROUP BY 1
)
SELECT event_type, n, sum_value_c,
       (SELECT COUNT(*) + 1 FROM r) AS n_csv_lines
FROM r
"""


def q_snapshot_discovery(spark, sf):
    """S12 (latest-snapshot discovery) under the driver gate. The reference
    discovers "the latest complete activity" by scanning timestamp-named
    directories (``utils/InputHelper.scala:29-69``); the engine's analog is
    the LakeTable snapshot log with an atomic current pointer. Two commits
    build two snapshots from the events table; the query then reads BOTH the
    discovered latest snapshot and the time-travel view of the first one,
    returning per-snapshot aggregates the oracle recomputes from parquet —
    checking that commit isolation and snapshot reads are exact."""
    import uuid as _uuid

    from ingestion3_spark.lakehouse.table import Field, LakeTable

    path = f"/tmp/i3s_snap_gate_{_uuid.uuid4().hex[:10]}"
    table = LakeTable.create(
        spark, path,
        [Field(1, "doc_id", "string"), Field(2, "n", "bigint")],
        num_buckets=4,
    )
    ev = load(spark, sf, "events").select(
        F.col("event_id").cast("string").alias("doc_id"),
        F.col("user_id").alias("n"),
        F.col("event_id").alias("_eid"),
    )
    half1 = ev.filter(F.col("_eid") < 5000).drop("_eid")
    half2 = ev.filter(F.col("_eid") >= 5000).drop("_eid")
    table.commit("append", add_files=table.write_files(half1))
    first_snap = table.current_snapshot.snapshot_id
    table.commit("append", add_files=table.write_files(half2))

    def _agg(df, tag):
        return (
            df.agg(F.count("*").alias("n_rows"), F.sum("n").alias("sum_n"))
            .select(F.lit(tag).alias("snap"), "n_rows", "sum_n")
        )

    return _agg(table.read(), "latest").unionByName(
        _agg(table.read(snapshot_id=first_snap), "first")
    )


SQL_snapshot_discovery = """
SELECT 'latest' AS snap, COUNT(*) AS n_rows, CAST(SUM(user_id) AS BIGINT) AS sum_n FROM events
UNION ALL
SELECT 'first' AS snap, COUNT(*) AS n_rows, CAST(SUM(user_id) AS BIGINT) AS sum_n
FROM events WHERE event_id < 5000
"""


# ---------------------------------------------------------------- registry
def q_multimodal_features(spark, sf):
    """Multimodal decode plumbing under the full correctness gate.

    The reference's analog is the per-record payload parse (XML/JSON blob
    column -> typed record, ``mappers/Mapper.scala:633-1010``); here the
    blob is a ``binary`` media column and the parse is a codec decode
    (``functions/multimodal.py``, Arrow-batched ``mapInPandas`` with
    per-row error routing — container ships no media libraries, so the
    decode is the documented deterministic fake).

    Gate construction (exact, no float hazards): media bytes derive
    deterministically from the ``documents`` table (ASCII-truncated text
    encoded as UTF-8 — byte i == codepoint i, recomputable in SQL); the
    real distributed extractor produces the 8 per-chunk float32 byte
    means, and the query emits each chunk's BYTE SUM = round(mean *
    chunk_len) — an integer <= 512*255 that float32 represents exactly, so
    the DuckDB oracle's pure-integer SUM matches bit-for-bit. np.array_
    split chunking (first L%8 chunks get the extra byte) is mirrored in
    SQL. Two injected empty payloads exercise the per-row error route
    (ok=false rows) under the same value hash.
    """
    from ingestion3_spark.functions import multimodal as MM

    t = F.substring("text", 1, 512)
    d = (
        load(spark, sf, "documents")
        .select(F.col("doc_id").cast("string").alias("doc_id"), t.alias("t"))
        .filter(F.col("t").rlike("^[ -~]*$") & (F.length("t") >= 8))
    )
    media_meta = (
        F.lit("image/png").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    media = d.select(
        "doc_id", F.encode(F.col("t"), "UTF-8").alias("media"), *media_meta
    ).unionByName(
        spark.createDataFrame([("bad-0001",), ("bad-0002",)], "doc_id string")
        .select("doc_id", F.encode(F.lit(""), "UTF-8").alias("media"), *media_meta)
    )
    feats = MM.extract_features(media)
    lens = d.select("doc_id", F.length("t").alias("L"))
    ok_rows = (
        feats.filter(F.col("ok"))
        .join(lens, "doc_id")
        .select("doc_id", "L", F.posexplode("feature").alias("chunk_idx", "val"))
        .withColumn(
            "chunk_len",
            (F.col("L") / 8).cast("long")
            + F.when(F.col("chunk_idx") < F.col("L") % 8, 1).otherwise(0),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.round(F.col("val") * F.col("chunk_len")).cast("long").alias("chunk_sum"),
            F.lit(True).alias("ok"),
        )
    )
    err_rows = feats.filter(~F.col("ok")).select(
        "doc_id",
        F.lit(-1).cast("int").alias("chunk_idx"),
        F.lit(None).cast("long").alias("chunk_sum"),
        F.lit(False).alias("ok"),
    )
    return ok_rows.unionByName(err_rows)


SQL_multimodal_features = """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, substring(text, 1, 512) AS t
  FROM documents
  WHERE regexp_matches(substring(text, 1, 512), '^[ -~]*$')
    AND length(substring(text, 1, 512)) >= 8
),
b0 AS (
  SELECT doc_id, length(t) AS L, t,
         unnest(range(1, length(t) + 1)) AS p
  FROM d
),
b AS (
  SELECT doc_id, L, p,
         ascii(substring(t, CAST(p AS INT), 1)) AS byte
  FROM b0
),
ch AS (
  SELECT doc_id,
         CAST(CASE WHEN (p - 1) < (L % 8) * ((L + 7) // 8)
              THEN (p - 1) // ((L + 7) // 8)
              ELSE (L % 8) + ((p - 1) - (L % 8) * ((L + 7) // 8)) // (L // 8)
         END AS INT) AS chunk_idx,
         byte
  FROM b
)
SELECT doc_id, chunk_idx, CAST(SUM(byte) AS BIGINT) AS chunk_sum, true AS ok
FROM ch GROUP BY doc_id, chunk_idx
UNION ALL
SELECT doc_id, CAST(-1 AS INT) AS chunk_idx, CAST(NULL AS BIGINT) AS chunk_sum,
       false AS ok
FROM (VALUES ('bad-0001'), ('bad-0002')) v(doc_id)
"""


QUERIES: dict[str, callable] = {
    "cdc_last_event_wins": q_cdc_last_event_wins,
    "cdc_merge_classify": q_cdc_merge_classify,
    "cdc_duplicate_events": q_cdc_duplicate_events,
    "cdc_ops_log": q_cdc_ops_log,
    "cdc_checkpoint_offsets": q_cdc_checkpoint_offsets,
    "cdc_sessionize": q_cdc_sessionize,
    "cdc_error_users": q_cdc_error_users,
    "cdc_signup_no_purchase": q_cdc_signup_no_purchase,
    "q1_pricing_summary": q_q1_pricing_summary,
    "q5_nation_revenue": q_q5_nation_revenue,
    "seg_broadcast_agg": q_seg_broadcast_agg,
    "rollup_lineitem": q_rollup_lineitem,
    "window_running_total": q_window_running_total,
    "topk_orders_per_cust": q_topk_orders_per_cust,
    "nations_both_sides": q_nations_both_sides,
    "props_k_distribution": q_props_k_distribution,
    "orders_pivot": q_orders_pivot,
    "doc_stats": q_doc_stats,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_exact_dups": q_doc_exact_dups,
    "doc_jaccard_pairs": q_doc_jaccard_pairs,
    "doc_minhash_pairs": q_doc_minhash_pairs,
    "doc_simhash_pairs": q_doc_simhash_pairs,
    "knn_topk": q_knn_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "date_parse": q_date_parse,
    "rights_uri_normalize": q_rights_uri_normalize,
    "doc_completeness": q_doc_completeness,
    "events_distinct_users": q_events_distinct_users,
    "word_frequency": q_word_frequency,
    "ann_ivf_topk": q_ann_ivf_topk,
    "doc_embed_dups": q_doc_embed_dups,
    "jsonl_render": q_jsonl_render,
    "doc_validate_report": q_doc_validate_report,
    "vocab_enrich": q_vocab_enrich,
    "xml_extract": q_xml_extract,
    "string_normalize_kernels": q_string_normalize_kernels,
    "streaming_dedup_state": q_streaming_dedup_state,
    "streaming_window_counts": q_streaming_window_counts,
    "schema_evolution_replay": q_schema_evolution_replay,
    "csv_log_roundtrip": q_csv_log_roundtrip,
    "snapshot_discovery": q_snapshot_discovery,
    "mor_replay_state": q_mor_replay_state,
    "token_packing": q_token_packing,
    "dup_clusters": q_dup_clusters,
    "doc_sample_stratified": q_doc_sample_stratified,
    "doc_length_quantiles": q_doc_length_quantiles,
    "wiki_eligibility": q_wiki_eligibility,
    "avro_roundtrip": q_avro_roundtrip,
    "multimodal_features": q_multimodal_features,
}

# dup_clusters oracle: an INDEPENDENT component algorithm (recursive
# transitive closure) over the same candidate-pair SQL the jaccard gate
# uses
SQL_dup_clusters = f"""
WITH RECURSIVE pairs AS ({SQL_doc_jaccard_pairs}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(node, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
)
SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1
"""

ORACLES: dict[str, str] = {
    name: g
    for name, g in (
        (n, globals().get(f"SQL_{n}")) for n in QUERIES
    )
    if g is not None
}
