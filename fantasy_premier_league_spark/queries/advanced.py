"""Advanced inventory: baseline-model queries, KS test, fuzzy matching,
multimodal plumbing (SURVEY §2.10/§2.12 surfaces that are expressible as
queries over the driver tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..operators import multimodal
from ..operators.fuzzy import token_sort_score
from . import query


@query(
    "v23_baseline_accuracy",
    """
    WITH preds AS (
        SELECT o_orderpriority,
               CASE WHEN o_totalprice >= 1000 THEN 1 ELSE 0 END AS target,
               CASE WHEN lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) >= 1000
                    THEN 1 ELSE 0 END AS pred
        FROM orders
    )
    SELECT o_orderpriority,
           count(*) AS n,
           round(avg(CASE WHEN pred = target THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
           round(avg(target), 6) AS target_rate
    FROM preds GROUP BY o_orderpriority
    """,
    doc="Baseline heuristic model M12 + target construction M16 (previous_"
    "points>=4 predictor, M1.ipynb § 6): lagged predictor vs binary target, "
    "per-group accuracy — pure Column exprs, no MLlib needed.",
    tags=("ml", "baseline"),
)
def v23_baseline_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    target = (F.col("o_totalprice") >= 1000).cast("int")
    pred = F.coalesce((F.lag("o_totalprice").over(w) >= 1000).cast("int"), F.lit(0))
    preds = orders.select(
        "o_orderpriority", target.alias("target"), pred.alias("pred")
    )
    return preds.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg((F.col("pred") == F.col("target")).cast("double")), 6).alias("accuracy"),
        F.round(F.avg("target"), 6).alias("target_rate"),
    )


@query(
    "v24_ks_two_sample",
    """
    WITH vals AS (
        SELECT floor(o_totalprice / 64.0)::BIGINT AS b,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    per_bucket AS (
        SELECT b, count(*) FILTER (WHERE g1 = 1) AS c1, count(*) FILTER (WHERE g1 = 0) AS c2
        FROM vals GROUP BY b
    ),
    cum AS (
        SELECT b,
               sum(c1) OVER (ORDER BY b) AS cum1, sum(c2) OVER (ORDER BY b) AS cum2,
               sum(c1) OVER () AS n1, sum(c2) OVER () AS n2
        FROM per_bucket
    )
    SELECT round(max(abs(cum1 / n1 - cum2 / n2)), 6) AS ks_stat,
           max(n1)::BIGINT AS n1, max(n2)::BIGINT AS n2
    FROM cum
    """,
    doc="Two-sample KS statistic M15 (M2.ipynb § 18) via binned cumulative "
    "ECDFs — MLlib only ships 1-sample KS. Values are pre-binned to a "
    "fixed grid (width 64, a power of two so the scaling is exact in "
    "binary and floor() agrees across engines) BEFORE the cumulative "
    "window, so the single-partition ordered sort runs over the bucket "
    "count — bounded by the value RANGE, not the row count or value "
    "cardinality. The KS estimate is exact up to one bin width.",
    tags=("ml", "stats"),
)
def v24_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    vals = orders.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.floor(F.col("o_totalprice") / 64.0).cast("long").alias("b"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("g1"),
    )
    per_bucket = vals.groupBy("b").agg(
        F.sum("g1").alias("c1"), F.sum(1 - F.col("g1")).alias("c2")
    )
    w = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    cum = per_bucket.select(
        "b",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    return cum.agg(
        F.round(F.max(F.abs(F.col("cum1") / F.col("n1") - F.col("cum2") / F.col("n2"))), 6).alias("ks_stat"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )


@query(
    "v70_fuzzy_part_match",
    """
    WITH p AS (
        SELECT p_partkey, p_brand, p_name,
               array_to_string(list_sort(list_distinct(
                   list_filter(regexp_split_to_array(p_name, '\\s+'), t -> t <> ''))), ' ') AS k
        FROM part WHERE p_partkey < 200
    ),
    scored AS (
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
               CASE WHEN a.p_name = b.p_name THEN 100.0
                    WHEN greatest(length(a.k), length(b.k)) = 0 THEN 100.0
                    ELSE round(100.0 * (1.0 - levenshtein(a.k, b.k)::DOUBLE
                               / greatest(length(a.k), length(b.k))), 2)
               END AS score
        FROM p a JOIN p b ON a.p_brand = b.p_brand AND a.p_partkey <> b.p_partkey
    )
    SELECT id_a, id_b, score FROM (
        SELECT id_a, id_b, score,
               row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
    doc="Fuzzy entity resolution F9/J8/J9/A12 surface (etl/additional_fifa "
    "pipeline): within each brand (blocking equi-join — never all-pairs), "
    "find the most similar other part name by the JVM-side levenshtein "
    "token-sort score (operators/fuzzy.py::token_sort_score — whole-stage "
    "codegen, no Python/Arrow hop in the hot path), exact-match short-"
    "circuit, top-1 per part via window. The oracle replays the scorer "
    "value-for-value; the difflib token_set_ratio pandas UDF remains as "
    "the reference-parity scorer in resolve_entities.",
    tags=("fuzzy",),
)
def v70_fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    a = part.select(
        F.col("p_partkey").alias("id_a"), F.col("p_brand").alias("brand"), F.col("p_name").alias("name_a")
    )
    b = part.select(
        F.col("p_partkey").alias("id_b"), F.col("p_brand").alias("brand"), F.col("p_name").alias("name_b")
    )
    cand = a.join(b, "brand").filter(F.col("id_a") != F.col("id_b"))
    score = F.when(F.col("name_a") == F.col("name_b"), F.lit(100.0)).otherwise(
        token_sort_score(F.col("name_a"), F.col("name_b"))
    )
    scored = cand.withColumn("score", score)
    w = W.partitionBy("id_a").orderBy(F.desc("score"), F.asc("id_b"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id_a", "id_b", "score")
    )


@query(
    "v62_multimodal_features",
    # the stub decoder is md5-derived, so the oracle replays it exactly:
    # feature i = byte i of md5(payload) / 255
    """
    SELECT doc_id,
           strlen(text)::BIGINT AS n_bytes,
           round("""
    + " + ".join(f"('0x' || substr(md5(text), {2 * i + 1}, 2))::INT / 255.0" for i in range(8))
    + """, 6) AS feature_sum
    FROM documents
    """,
    doc="Multimodal decode plumbing (mapInPandas + Arrow): documents' text "
    "bytes treated as opaque payloads, decoded by the deterministic stub "
    "decoder into fixed-dim feature vectors; real codecs slot into the same "
    "operator (operators/multimodal.py). The md5-derived stub is replayed "
    "by the oracle value-for-value, so the whole Arrow round-trip is "
    "hash-checked.",
    tags=("multimodal", "pandas-udf"),
)
def v62_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    feats = multimodal.extract_features(
        docs, "doc_id", "payload", decoder=multimodal.fake_image_decoder
    )
    return feats.select(
        F.col("id").alias("doc_id"),
        "n_bytes",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6).alias("feature_sum"),
    )


@query(
    "v72_sessionization",
    """
    WITH e AS (
        SELECT user_id, event_id, ts, value, epoch_us(ts) AS us FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, ts, value, us,
               CASE WHEN lag(us) OVER w IS NULL THEN 1
                    WHEN us - lag(us) OVER w > 1800000000 THEN 1
                    ELSE 0 END AS opens
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               (sum(opens) OVER (PARTITION BY user_id ORDER BY us, event_id
                                 ROWS UNBOUNDED PRECEDING))::INT AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq,
           count(*)::BIGINT AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           round(sum(value), 2) AS total_value
    FROM sessions GROUP BY user_id, session_seq
    """,
    doc="Batch sessionization (gaps-and-islands, 30-min inactivity gap): "
    "per-user dense session numbers + per-session aggregates — "
    "session_window's semantics as plain windows. One shuffle: both windows and "
    "the final groupBy share the user_id partitioning.",
    tags=("sessionization", "windows"),
)
def v72_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessionize import session_stats

    ev = load(spark, sf_dir, "events")
    return session_stats(ev, gap_seconds=1800)


@query(
    "v73_rollup_revenue",
    """
    SELECT coalesce(r_name, 'ALL') AS region,
           coalesce(n_name, 'ALL') AS nation,
           lvl,
           n_orders,
           revenue
    FROM (
        SELECT r_name, n_name,
               (CASE WHEN GROUPING(n_name) = 1 THEN 1 ELSE 0 END
                + CASE WHEN GROUPING(r_name) = 1 THEN 2 ELSE 0 END)::INT AS lvl,
               count(*)::BIGINT AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    )
    """,
    doc="Hierarchical ROLLUP aggregate (region -> nation -> grand total) "
    "with grouping_id level marker — the multi-level-report operator class "
    "(Spark .rollup / GROUPING SETS). Only the bounded dims (nation, "
    "region) broadcast; customer grows with SF so its join is left to AQE. "
    "The rollup is one shuffle with partial aggregation map-side.",
    tags=("rollup", "agg"),
)
def v73_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    rolled = joined.rollup("r_name", "n_name").agg(
        F.grouping_id().cast("int").alias("lvl"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    return rolled.select(
        F.coalesce("r_name", F.lit("ALL")).alias("region"),
        F.coalesce("n_name", F.lit("ALL")).alias("nation"),
        "lvl",
        "n_orders",
        "revenue",
    )


@query(
    "v27_attribution_window",
    """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
    ),
    a AS (
        SELECT user_id, event_id AS anchor_id, us AS anchor_us
        FROM e JOIN (SELECT event_id FROM events WHERE event_type = 'purchase') USING (event_id)
    )
    SELECT anchor_id,
           count(*)::BIGINT AS n_prior,
           round(sum(value), 2) AS prior_value
    FROM a JOIN e ON a.user_id = e.user_id
                 AND e.us >= a.anchor_us - 1800000000
                 AND e.us < a.anchor_us
    GROUP BY anchor_id
    """,
    doc="Range (interval) join as a bucketed equi-join (operators/"
    "rangejoin.py::lookback_join): per purchase, count + sum of the same "
    "user's events in the preceding 30 min. OSS Spark would plan the raw "
    "interval predicate as a nested-loop join; quantizing to 30-min "
    "buckets makes it a hash join on (user_id, bucket) with an exact "
    "refine filter — linear candidate volume, even key distribution.",
    tags=("range-join", "join"),
)
def v27_attribution_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import lookback_join

    ev = load(spark, sf_dir, "events")
    anchors = ev.filter(F.col("event_type") == "purchase")
    pairs = lookback_join(ev, anchors, window_seconds=1800, bucket_seconds=1800)
    return pairs.groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("n_prior"),
        F.round(F.sum("value"), 2).alias("prior_value"),
    )


@query(
    "r42_salted_join",
    """
    SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'click'
    """,
    doc="Skew-salted join (operators/skew.py::salted_join, n_salt=8): the "
    "left side salts on a hash of the row key, the right side replicates "
    "once per salt, the join runs on (key, salt) so a hot key spreads over "
    "n_salt tasks. The oracle is the PLAIN join — the whole point is that "
    "the mitigation is semantically invisible, and the value-hash check "
    "proves it.",
    tags=("join", "skew"),
)
def r42_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, "user_id", n_salt=8, left_disambiguator="event_id")
    return joined.select("event_id", "user_id", "c_mktsegment", "value")


@query(
    "r63_global_rank",
    """
    SELECT o_orderkey, o_totalprice,
           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rank
    FROM orders
    """,
    doc="Global total-order ranking WITHOUT a single-partition window "
    "(operators/rank.py::global_rank): range-partition sort + per-partition "
    "counts + broadcast cumulative offsets — rank = partition offset + "
    "local position. The oracle is the single-partition row_number the "
    "naive plan would use; identical output, but the engine path scales to "
    "any row count (the W4 at-scale form).",
    tags=("window", "rank", "scale"),
)
def r63_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rank import global_rank

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return global_rank(
        orders, [F.desc("o_totalprice"), F.asc("o_orderkey")], out="rank"
    )


@query(
    "q35_snapshot_asof",
    r"""
    WITH st AS (SELECT DISTINCT date_trunc('second', ts) AS s FROM events),
    named AS (
        SELECT concat('players_', strftime(s, '%Y%m%d-%H%M%S'),
                      CASE WHEN date_part('second', s)::BIGINT % 7 = 0
                           THEN '.tmp' ELSE '.json' END) AS file_name
        FROM st
    ),
    listing AS (
        SELECT file_name,
               strptime(regexp_extract(file_name, '(\d{8}-\d{6})', 1),
                        '%Y%m%d-%H%M%S') AS date_extracted
        FROM named
        WHERE regexp_matches(file_name, '^players_\d{8}-\d{6}\.json$')
    ),
    d AS (SELECT DISTINCT date_trunc('day', ts) AS deadline_ts FROM events),
    ranked AS (
        SELECT d.deadline_ts,
               l.date_extracted AS snapshot_ts,
               l.file_name AS snapshot_file_name,
               row_number() OVER (
                   PARTITION BY d.deadline_ts
                   ORDER BY l.date_extracted DESC NULLS LAST
               ) AS rn
        FROM d LEFT JOIN listing l ON l.date_extracted < d.deadline_ts
    )
    SELECT deadline_ts, snapshot_ts, snapshot_file_name FROM ranked WHERE rn = 1
    """,
    doc="Point-in-time snapshot reconstruction capstone (reference "
    "M1.ipynb § 20 get_closest_dates; S15+F11+J10 composed): a snapshot "
    "LOG derived from events (one 'players_YYYYmmdd-HHMMSS.json' name "
    "per distinct event second, ~1 in 7 given a non-matching .tmp "
    "extension) flows through the production listing semantics — regex "
    "name filter, timestamp extraction via the SAME TS_PATTERN/TS_FORMAT "
    "constants sources/files.py::snapshot_listing uses — then "
    "snapshots_asof_deadlines picks, for each daily deadline, the latest "
    "snapshot STRICTLY before it via the union-merge as-of join (one "
    "shuffle of |L|+|R| rows, no LxR pair materialization — the "
    "reference cross-joins files x gameweeks). The oracle replays "
    "naming, filtering, extraction, and the as-of with a windowed "
    "argmax; deadlines with no prior snapshot keep their null row on "
    "both sides. Only the filesystem walk itself (pytest-gated) is "
    "outside the oracle — this closes the last reference-parity "
    "composition that had no oracle row (VERDICT r9).",
    tags=("source", "asof", "etl", "point-in-time"),
)
def q35_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.files import TS_FORMAT, TS_PATTERN, snapshots_asof_deadlines

    ev = load(spark, sf_dir, "events")
    snap_ts = ev.select(F.date_trunc("second", "ts").alias("st")).distinct()
    named = snap_ts.select(
        F.concat(
            F.lit("players_"),
            F.date_format("st", TS_FORMAT),
            F.when(F.second("st") % 7 == 0, F.lit(".tmp")).otherwise(F.lit(".json")),
        ).alias("file_name")
    )
    listing = (
        named.filter(
            F.regexp_like("file_name", F.lit(rf"^players_{TS_PATTERN}\.json$"))
        )
        .withColumn(
            "date_extracted",
            F.to_timestamp(F.regexp_extract("file_name", TS_PATTERN, 1), TS_FORMAT),
        )
        .withColumn("file_path", F.concat(F.lit("/snapshots/"), "file_name"))
    )
    deadlines = ev.select(
        F.date_trunc("day", "ts").alias("gameweek_deadline_time")
    ).distinct()
    out = snapshots_asof_deadlines(listing, deadlines)
    return out.select(
        F.col("gameweek_deadline_time").alias("deadline_ts"),
        F.col("snapshot_date_extracted").alias("snapshot_ts"),
        "snapshot_file_name",
    )


@query(
    "v63_frame_samples",
    """
    WITH d AS (
        SELECT doc_id, text,
               least(4, greatest(1, strlen(text) // 256))::BIGINT AS n
        FROM documents
    )
    SELECT doc_id, i::INT AS frame_idx,
           md5(substr(text, (i * 256 + 1)::INT, 256)) AS frame_digest
    FROM (SELECT doc_id, text, unnest(generate_series(0, n - 1)) AS i FROM d)
    """,
    doc="Frame-sampling plumbing (operators/multimodal.py::sample_frames): "
    "one payload row explodes to <= max_frames sampled-frame rows — the "
    "exact dataflow shape of an ffmpeg-backed video sampler, with a "
    "byte-stride stub whose md5 chunk digests the oracle replays "
    "value-for-value. Arrow-batched map stage, no shuffle. Oracle parity "
    "contract: the engine strides over UTF-8 BYTES while the SQL oracle "
    "chunks with character substr/strlen, so the replay is exact only for "
    "ASCII payloads (true of the testdata documents); non-ASCII media "
    "payloads are byte-opaque anyway and simply lose the SQL oracle, not "
    "correctness.",
    tags=("multimodal", "pandas-udf"),
)
def v63_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    frames = multimodal.sample_frames(
        docs, "doc_id", "payload", every_n_bytes=256, max_frames=4
    )
    return frames.select(F.col("id").alias("doc_id"), "frame_idx", "frame_digest")


_PR_ITER = """r{t} AS (
        SELECT e.dst AS node,
               0.15 / (SELECT n FROM n) + 0.85 * sum(r{p}.rank / deg.deg) AS rank
        FROM e
        JOIN r{p} ON e.src = r{p}.node
        JOIN deg ON e.src = deg.src
        GROUP BY e.dst
    )"""


@query(
    "q50_part_pagerank",
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS p FROM lineitem),
    e AS (
        SELECT DISTINCT a.p AS src, b.p AS dst
        FROM li a JOIN li b ON a.g = b.g AND a.p != b.p
    ),
    deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
    n AS (SELECT count(*)::DOUBLE AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM n) AS rank FROM deg),
    {_PR_ITER.format(t=1, p=0)},
    {_PR_ITER.format(t=2, p=1)},
    {_PR_ITER.format(t=3, p=2)}
    SELECT node, round(rank, 6) AS rank FROM r3
    """,
    doc="Fixed-iteration PageRank (operators/graph.py::pagerank, 3 power "
    "iterations, d=0.85) over the part co-purchase graph (parts sharing an "
    "order — operators/graph.py::co_occurrence_edges). The iterative-"
    "linear-algebra showcase: the edge list shuffles once and is persisted; "
    "each iteration is one hash join against the nodes-sized rank vector + "
    "one partial-agg groupBy; the iteration count is fixed so the plan is "
    "a finite unrolled chain (deep chains cut lineage via localCheckpoint, "
    "same as dedup's label propagation). Oracle unrolls the identical 3 "
    "iterations as CTEs; final round(6) absorbs cross-engine float-sum "
    "ordering.",
    tags=("graph", "iterative", "pagerank"),
)
def q50_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import co_occurrence_edges, pagerank

    li = load(spark, sf_dir, "lineitem")
    edges = co_occurrence_edges(li, "l_orderkey", "l_partkey")
    return pagerank(edges, iterations=3, damping=0.85)


_Z_TERMS = " + ".join(
    t
    for i in range(10)
    for t in (f"(((x >> {i}) & 1) << {2 * i})", f"(((y >> {i}) & 1) << {2 * i + 1})")
)


@query(
    "q04_zorder_key",
    f"""
    WITH b AS (
        SELECT o_orderkey,
               (o_custkey & 1023) AS x,
               (date_diff('day', DATE '1992-01-01', o_orderdate::DATE) & 1023) AS y
        FROM orders
    )
    SELECT o_orderkey, x, y, ({_Z_TERMS})::BIGINT AS zval FROM b
    """,
    doc="Morton (Z-order) locality key over (customer, order day) — "
    "sources/warehouse.py::zorder_key, a layout lever: range-partition "
    "+ sort on the interleaved key "
    "clusters rows close in BOTH dimensions into the same files, so "
    "min/max file stats prune scans on EITHER column (a plain (x,y) sort "
    "only prunes the leading one). Exact integer bit arithmetic, "
    "engine-portable; narrow projection, zero shuffles.",
    tags=("warehouse", "layout", "zorder"),
)
def q04_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.warehouse import zorder_key

    orders = load(spark, sf_dir, "orders")
    x = F.col("o_custkey").bitwiseAND(F.lit(1023))
    y = F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")).bitwiseAND(
        F.lit(1023)
    )
    return orders.select(
        "o_orderkey",
        x.cast("long").alias("x"),
        y.cast("long").alias("y"),
        zorder_key(x, y, bits=10).alias("zval"),
    )


@query(
    "q36_bloom_prune",
    """
    WITH vip AS (
        SELECT DISTINCT c_custkey AS k FROM customer WHERE c_acctbal > 9000
    ),
    bpos AS (
        SELECT k,
               ('0x' || substr(md5('bloom_prune:' || i::VARCHAR || ':' || k::VARCHAR), 1, 8))::BIGINT
                   % 4096 AS p
        FROM vip, (SELECT unnest([0, 1, 2]) AS i)
    ),
    mask AS (
        SELECT (p // 32)::INT AS word_idx,
               bit_or((1::BIGINT << (p % 32)::INT)) AS word
        FROM bpos GROUP BY 1
    ),
    probe AS (SELECT DISTINCT o_custkey AS k FROM orders),
    ppos AS (
        SELECT k,
               ('0x' || substr(md5('bloom_prune:' || i::VARCHAR || ':' || k::VARCHAR), 1, 8))::BIGINT
                   % 4096 AS p
        FROM probe, (SELECT unnest([0, 1, 2]) AS i)
    ),
    hits AS (
        SELECT ppos.k,
               min(CASE WHEN mask.word IS NOT NULL
                         AND ((mask.word >> (ppos.p % 32)::INT) & 1) = 1
                        THEN 1 ELSE 0 END) AS hit
        FROM ppos LEFT JOIN mask ON (ppos.p // 32)::INT = mask.word_idx
        GROUP BY ppos.k
    ),
    flagged AS (
        SELECT h.k, h.hit, CASE WHEN v.k IS NULL THEN 0 ELSE 1 END AS t
        FROM hits h LEFT JOIN vip v ON h.k = v.k
    )
    SELECT (SELECT count(*) FROM vip)::BIGINT AS n_build,
           count(*)::BIGINT AS n_probe_keys,
           sum(hit)::BIGINT AS n_pass,
           sum(t)::BIGINT AS n_true,
           sum(CASE WHEN hit = 1 AND t = 0 THEN 1 ELSE 0 END)::BIGINT AS n_false_pos,
           sum(CASE WHEN t = 1 AND hit = 0 THEN 1 ELSE 0 END)::BIGINT AS n_missed,
           round(sum(CASE WHEN hit = 1 AND t = 0 THEN 1 ELSE 0 END)::DOUBLE
                 / nullif(count(*) - sum(t), 0), 6) AS fp_rate,
           round(1.0 - sum(hit)::DOUBLE / count(*), 6) AS prune_rate
    FROM flagged
    """,
    doc="Bloom-filter semi-join reduction (operators/bloom.py): the "
    "high-balance customer keys build a portable md5 Bloom mask as a "
    "(word_idx, word) bit table (m=4096, k=3; fully distributed groupBy "
    "bit_or, never driver-collected), the distinct order customers probe "
    "it through a broadcast join on word_idx, and the output audits the "
    "filter against exact membership: zero false negatives (n_missed), "
    "the realized false-positive rate vs the (1-e^(-kn/m))^k bound, and "
    "the prune rate a fact-side scan would enjoy. At 100 TB this is the "
    "explicit, persistable form of runtime bloom pruning: the mask is "
    "m/32 rows (0.5 MB at m=2^20) regardless of how many distinct keys "
    "built it — broadcastable where the key set itself is not. DuckDB "
    "replays the identical mask bit-for-bit (portable hashes), so every "
    "per-key verdict is under the value-hash gate.",
    tags=("join", "bloom", "scale", "llm-pipeline"),
)
def q36_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bloom as BL

    cust = load(spark, sf_dir, "customer")
    vip = cust.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("k")
    ).distinct()
    mask = BL.bloom_build(vip, "k", m_bits=4096, k_hashes=3, salt="bloom_prune:")
    probe = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k")).distinct()
    probed = BL.bloom_probe_keys(probe, "k", mask, m_bits=4096, k_hashes=3, salt="bloom_prune:")
    flagged = probed.join(
        vip.withColumn("__t", F.lit(1)), "k", "left"
    ).select(
        F.col("bloom_hit").cast("int").alias("hit"),
        F.coalesce(F.col("__t"), F.lit(0)).alias("t"),
    )
    n_build = vip.agg(F.count(F.lit(1)).alias("n_build"))
    agg = flagged.agg(
        F.count(F.lit(1)).alias("n_probe_keys"),
        F.sum("hit").alias("n_pass"),
        F.sum("t").alias("n_true"),
        F.sum(((F.col("hit") == 1) & (F.col("t") == 0)).cast("long")).alias("n_false_pos"),
        F.sum(((F.col("t") == 1) & (F.col("hit") == 0)).cast("long")).alias("n_missed"),
    )
    return agg.crossJoin(F.broadcast(n_build)).select(
        "n_build",
        "n_probe_keys",
        "n_pass",
        "n_true",
        "n_false_pos",
        "n_missed",
        F.round(
            F.col("n_false_pos")
            / F.nullif((F.col("n_probe_keys") - F.col("n_true")).cast("double"), F.lit(0.0)),
            6,
        ).alias("fp_rate"),
        F.round(1.0 - F.col("n_pass") / F.col("n_probe_keys"), 6).alias("prune_rate"),
    )
