"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship validation pipeline on sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2 plus the
training-data-pipeline operators (dedup / similarity / text analysis).
``oracle_sql()`` — DuckDB-equivalent SQL for every SQL-expressible query;
non-relational kernels (SR drift scoring, LSH ANN, language ID) are
rows-only by design.

Column-name parity: every computed column is aliased identically in the
Spark query and the oracle SQL; float aggregates are rounded on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: stats + constraints + SR drift over the events table at
    sf0.001 — scan → project → agg → window → mapInArrow → verdicts."""
    sf_dir = "/root/testdata/sf0.001"
    from anomaly_detector_spark.operators.drift import derive_series, drift_verdicts, score_drift

    events = _t(spark, sf_dir, "events")
    series = derive_series(
        events,
        partition_cols=["event_type"],
        ts_col="ts",
        bucket="1 hour",
        value_exprs={"event_rate": F.count(F.lit(1)).cast("double"),
                     "value_avg": F.avg("value")},
        num_partitions=16,  # bounded key cardinality — see _sr_drift_events
    )
    scored = score_drift(series, granularity="hourly", assume_partitioned=True)
    return drift_verdicts(scored).orderBy("series_key")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def _q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q3_shipping_priority(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


def _q5_nation_revenue(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def _q_top_customers(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
            F.count(F.lit(1)).alias("order_count"),
        )
        .orderBy(F.desc("total_spent"), "c_custkey")
        .limit(20)
    )


def _stats_orders(spark, sf_dir):
    from anomaly_detector_spark.operators.stats import column_stats

    orders = _t(spark, sf_dir, "orders")
    out = column_stats(orders, numeric_cols=["o_totalprice"], string_cols=[],
                       exact_quantiles=True)
    return out.select(
        "row_count",
        "o_totalprice_null_rate",
        F.round("o_totalprice_min", 4).alias("price_min"),
        F.round("o_totalprice_max", 4).alias("price_max"),
        F.round("o_totalprice_avg", 4).alias("price_avg"),
        F.round("o_totalprice_stddev", 4).alias("price_stddev"),
        F.round(F.col("o_totalprice_quantiles")[0], 4).alias("price_q25"),
        F.round(F.col("o_totalprice_quantiles")[1], 4).alias("price_q50"),
        F.round(F.col("o_totalprice_quantiles")[2], 4).alias("price_q75"),
    )


def _stats_events_by_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(F.when(F.col("value").isNull(), 1.0).otherwise(0.0)), 6).alias("null_rate"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.min("value"), 6).alias("v_min"),
            F.round(F.max("value"), 6).alias("v_max"),
            F.round(F.avg("value"), 6).alias("v_avg"),
        )
        .orderBy("event_type")
    )


def _majority_ratio_events(spark, sf_dir):
    from anomaly_detector_spark.operators.stats import majority_ratio

    ev = _t(spark, sf_dir, "events")
    return majority_ratio(ev, "value", bins=20)


def _uniqueness_violations(spark, sf_dir):
    from anomaly_detector_spark.operators.constraints import uniqueness_violations

    li = _t(spark, sf_dir, "lineitem")
    return uniqueness_violations(li, ["l_orderkey", "l_linenumber"]).select(
        "l_orderkey", "l_linenumber", "dup_count"
    )


def _referential_violations(spark, sf_dir):
    from anomaly_detector_spark.operators.constraints import referential_violations

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return referential_violations(
        li.withColumnRenamed("l_partkey", "key"),
        part.withColumnRenamed("p_partkey", "key"),
        key="key",
        broadcast_registry=True,
    )


def _domain_violations(spark, sf_dir):
    from anomaly_detector_spark.operators.constraints import domain_violations

    ev = _t(spark, sf_dir, "events")
    return domain_violations(
        ev, "event_type", ["click", "view", "purchase"], keys=("event_id",)
    ).groupBy("bad_value").agg(F.count(F.lit(1)).alias("n")).orderBy("bad_value")


def _monotonic_violations(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    prev = F.lag("ts").over(w)
    return (
        ev.select("user_id", "event_id", "ts")
        .withColumn("prev_ts", prev)
        .filter(F.col("prev_ts").isNotNull() & (F.col("prev_ts") >= F.col("ts")))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .orderBy("user_id")
    )


def _gap_violations(spark, sf_dir):
    from anomaly_detector_spark.operators.constraints import turn_gap_violations

    li = _t(spark, sf_dir, "lineitem").withColumn("l_linenumber0", F.col("l_linenumber") - 1)
    return turn_gap_violations(li, key="l_orderkey", order_col="l_linenumber0").select(
        "l_orderkey", "min_turn", "max_turn", "n_distinct", "missing_count"
    )


def _rolling_daily_revenue(spark, sf_dir):
    from pyspark.sql.window import Window

    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("daily_total")
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return (
        daily.withColumn("rolling_7d_avg", F.round(F.avg("daily_total").over(w), 4))
        .orderBy("d")
        .select(F.col("d").cast("string").alias("d"), "daily_total", "rolling_7d_avg")
        .limit(100)
    )


def _topk_parts_per_brand(spark, sf_dir):
    from pyspark.sql.window import Window

    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "rank", "p_partkey", F.round("p_retailprice", 2).alias("price"))
        .orderBy("p_brand", "rank")
    )


def _histogram_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    bucket = F.least(
        F.floor((F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 20)).cast("int"),
        F.lit(19),
    )
    return (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def _dedup_exact(spark, sf_dir):
    # Hash the canonical text to 8 bytes BEFORE the groupBy so the shuffle
    # carries xxhash64 keys, never document bodies (operators/dedup.py:30-44
    # plan; the oracle groups on the text itself — identical groups modulo
    # 64-bit collisions, and the compared output columns are the same).
    from anomaly_detector_spark.operators.dedup import normalize_text

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.col("doc_id"), F.xxhash64(normalize_text(F.col("text"))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("dup_count") > 1)
        .select("min_doc_id", "dup_count")
        .orderBy("min_doc_id")
    )


def _text_quality(spark, sf_dir):
    from anomaly_detector_spark.operators.text import text_quality

    # limit-first (r7): text_quality is a per-row projection, so taking the
    # 500 lowest doc_ids BEFORE it (TakeOrderedAndProject on the scan)
    # computes features for exactly the emitted rows — identical output,
    # none of the corpus-wide feature work is thrown away (guide §1.2
    # "don't compute things you throw away")
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id").limit(500)
    return (
        text_quality(docs)
        .select("doc_id", "n_chars", "n_words", "avg_word_len", "digit_ratio")
        .orderBy("doc_id")
    )


def _token_stats_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(words)).alias("total_words"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        )
        .orderBy("source")
    )


def _ngram_jaccard_sample(spark, sf_dir):
    """Exact token-set Jaccard between consecutive doc_ids (candidate-pair
    verification step of the near-dup pipeline, SQL-expressible)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.array_distinct(F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "))
    a = docs.select(F.col("doc_id").alias("id_a"), words.alias("set_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), words.alias("set_b"))
    return (
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("set_a", "set_b"))
                / F.size(F.array_union("set_a", "set_b")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("id_a")
    )


def _ann_brute_force(spark, sf_dir):
    from anomaly_detector_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=10)


def _ann_lsh_topk(spark, sf_dir):
    """Approximate top-k via multi-table random-hyperplane LSH + exact
    rescoring.  No oracle: bucket membership depends on seeded hyperplanes
    DuckDB cannot reproduce; recall >= 0.9 vs brute force is pytest-asserted
    (tests/test_operators.py::test_lsh_topk_recall)."""
    from anomaly_detector_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries, dim=64, k=10, n_planes=4, n_tables=16)


def _ann_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN (distributed Lloyd's training + nprobe
    bucket-join search).  No oracle: centroids come from iterative k-means
    not expressible in one SQL query; correctness pinned by
    tests/test_operators.py::test_ivf_topk_recall_and_exactness_at_full_probe
    (full-probe results EQUAL brute force; partial-probe recall bound)."""
    from anomaly_detector_spark.operators.similarity import ivf_topk, ivf_train

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = ivf_train(emb, n_centroids=16, iters=3, seed=7)
    return ivf_topk(emb, queries, centroids, k=10, nprobe=8)


def _ann_ivf_indexed(spark, sf_dir):
    """IVF ANN through the MATERIALIZED index path (ivf_write_index +
    ivf_topk_indexed): the assignment is written once partitioned by
    cluster_id and the probe scan prunes to the probed cells.  No oracle
    (same reason as ann_ivf_topk); correctness pinned by
    tests/test_operators.py::test_ivf_indexed_prunes_partitions_and_matches
    (result set EQUALS the per-query-assignment path, which at full probe
    equals oracle-checked brute force)."""
    import hashlib

    from anomaly_detector_spark.operators.similarity import (
        ivf_topk_indexed,
        ivf_train,
        ivf_write_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = ivf_train(emb, n_centroids=16, iters=3, seed=7)
    # deterministic per-sf_dir index location; rebuilt per run (cheap at
    # test scale — at 100 TB the index write is a one-time offline job)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # per-application component so two concurrent driver runs over the same
    # sf_dir never race on a half-rewritten index directory
    run_tag = spark.sparkContext.applicationId
    path = f"/tmp/adspark_ivf_index_{tag}_{run_tag}"
    # the returned DataFrame reads the index lazily, so it can't be removed
    # here; clean it up at driver exit instead of leaking one index per run
    # (bench campaigns loop this for hours)
    import atexit
    import shutil

    atexit.register(shutil.rmtree, path, ignore_errors=True)
    ivf_write_index(emb, centroids, path)
    return ivf_topk_indexed(spark, path, queries, centroids, k=10, nprobe=8)


def _embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup dedup, oracle-checked: the natural test
    embeddings have max pairwise cosine ~0.60, so 20 planted perturbed
    copies (vec_id+100000, first component +0.05 -> cosine ~0.9999) are the
    exact ground-truth pair set; DuckDB verifies with all-pairs
    list_cosine_similarity while the Spark side goes through the LSH-bucket
    candidate path (miss probability ~1e-12 per planted pair at 8x8)."""
    from anomaly_detector_spark.operators.dedup import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.05)),
            F.expr("slice(embedding, 2, size(embedding) - 1)"),
        ).alias("embedding"),
    )
    corpus = emb.unionAll(planted)
    return embedding_near_dups(corpus, threshold=0.95, dim=64).df.select("id_a", "id_b")


def _minhash_near_dups(spark, sf_dir):
    from anomaly_detector_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, jaccard_threshold=0.5).df


def _simhash_buckets(spark, sf_dir):
    from anomaly_detector_spark.operators.dedup import simhash_buckets

    docs = _t(spark, sf_dir, "documents")
    return (
        simhash_buckets(docs)
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .orderBy("band_id", "band_key")
    )


def _language_id(spark, sf_dir):
    from anomaly_detector_spark.operators.text import language_id

    # limit-first: language_id is per-row — see _text_quality
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id").limit(200)
    return language_id(docs).orderBy("doc_id")


def _fingerprints(spark, sf_dir):
    from anomaly_detector_spark.operators.text import document_fingerprint

    # limit-first: document_fingerprint is per-row — see _text_quality
    docs = _t(spark, sf_dir, "documents").orderBy("doc_id").limit(500)
    return (
        document_fingerprint(docs)
        .select("doc_id", F.size("fingerprint").alias("n_fingerprints"))
        .orderBy("doc_id")
    )


def _sr_drift_events(spark, sf_dir):
    from anomaly_detector_spark.operators.drift import derive_series, score_drift

    ev = _t(spark, sf_dir, "events")
    # num_partitions=16: the series key is event_type, a bounded-cardinality
    # domain (~5 values at ANY table size), and a window partitioned by the
    # key puts each series in one task regardless — partitions beyond the
    # key cardinality are guaranteed-empty Python round-trips (r7: the
    # default cores*4=128 spent ~0.7s running 123 empty mapInArrow tasks).
    series = derive_series(
        ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
        value_exprs={"event_rate": F.count(F.lit(1)).cast("double")},
        num_partitions=16,
    )
    return score_drift(series, granularity="hourly", assume_partitioned=True).orderBy("series_key", "idx")


def _drift_verdicts(spark, sf_dir):
    from anomaly_detector_spark.operators.drift import derive_series, drift_verdicts, score_drift

    ev = _t(spark, sf_dir, "events")
    series = derive_series(
        ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
        value_exprs={"event_rate": F.count(F.lit(1)).cast("double"),
                     "value_avg": F.avg("value")},
        num_partitions=16,  # bounded key cardinality — see _sr_drift_events
    )
    return drift_verdicts(score_drift(series, granularity="hourly", assume_partitioned=True)).orderBy("series_key")


def _robust_stats_by_type(spark, sf_dir):
    """A1/A5 — exact median + MAD per group (the reference's robust location/
    scale pair, helpers.py:118-126 / statsmodels robust.mad), as a two-pass
    grouped aggregation: median, broadcast back, median absolute deviation."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med"),
        F.count("value").alias("n_values"),
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("n_values").alias("n_values"),
            F.round(F.first("med"), 6).alias("median"),
            F.round(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)), 6).alias("mad_raw"),
        )
        .orderBy("event_type")
    )


_ACF_LAGS = 24


def _acf_event_rate(spark, sf_dir):
    """PD6 — the correlogram detector's ACF (statsmodels semantics:
    r_k = sum(d_t * d_{t+k}) / sum(d^2), full-series mean) over the hourly
    event-rate series, one row per lag."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    w = Window.orderBy("h")
    d = hourly.select("h", (F.col("v") - F.avg("v").over(Window.partitionBy())).alias("d"))
    leads = d.select(
        "d", *[F.lead("d", k).over(w).alias(f"d{k}") for k in range(1, _ACF_LAGS + 1)]
    )
    agg = leads.agg(
        F.sum(F.col("d") * F.col("d")).alias("denom"),
        *[F.sum(F.col("d") * F.col(f"d{k}")).alias(f"num{k}") for k in range(1, _ACF_LAGS + 1)],
    )
    pairs = F.array(*[
        F.struct(F.lit(k).alias("lag"),
                 F.round(F.col(f"num{k}") / F.col("denom"), 6).alias("acf"))
        for k in range(1, _ACF_LAGS + 1)
    ])
    return (
        agg.select(F.explode(pairs).alias("p"))
        .select("p.lag", "p.acf")
        .orderBy("lag")
    )


_MVAD_COLS = ["v_click", "v_purchase", "v_view"]


def _hourly_frame(spark, sf_dir):
    """Hourly multivariate frame from events (3 variables, with null hours) —
    the MVAD ops' input shape (conditional agg keeps it identical in DuckDB)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.avg(F.when(F.col("event_type") == "click", F.col("value"))).alias("v_click"),
        F.avg(F.when(F.col("event_type") == "view", F.col("value"))).alias("v_view"),
        F.avg(F.when(F.col("event_type") == "purchase", F.col("value"))).alias("v_purchase"),
    )


def _mvad_filled(spark, sf_dir):
    from anomaly_detector_spark.operators import mvad

    frame = mvad.mvad_ingest(_hourly_frame(spark, sf_dir), ts_col="h")
    return mvad.fill_na(frame, _MVAD_COLS, order_col="h", method="Linear")


def _mvad_fill_na(spark, sf_dir):
    """S2 (ingest) + F8/W8 (linear fill with both-ends clamping) end-to-end."""
    out = _mvad_filled(spark, sf_dir)
    return out.select(
        F.col("h").cast("string").alias("h"),
        *[F.round(c, 6).alias(c) for c in _MVAD_COLS],
    ).orderBy("h")


def _mvad_pct_weight(spark, sf_dir):
    """W4 — per-variable pct-change weight (multivariate/util.py:46-76)."""
    from anomaly_detector_spark.operators import mvad

    out = mvad.pct_weight(_mvad_filled(spark, sf_dir), _MVAD_COLS, window=24, order_col="h")
    return out.select(
        "variable", F.round("pct_weight_raw", 6).alias("pct_weight_raw"), "weight"
    ).orderBy("variable")


def _mvad_drift_threshold(spark, sf_dir):
    """W5 (rolling-quantile threshold, the BASELINE drift-threshold op) + W6
    (rolling attention delta) + M12/M13 (severity + anomaly rule)."""
    from anomaly_detector_spark.operators import mvad

    frame = _mvad_filled(spark, sf_dir).select("h", F.col("v_click").alias("score"))
    frame = mvad.rolling_attention_delta(frame, "score", "h", threshold_window=24)
    out = mvad.rolling_quantile_threshold(frame, "score", "h", threshold_window=24)
    out = mvad.mvad_severity(mvad.mvad_anomaly_rule(out, train_threshold=50.0))
    return out.select(
        F.col("h").cast("string").alias("h"),
        F.round("score", 6).alias("score"),
        F.round("threshold", 6).alias("threshold"),
        "is_anomaly",
        F.round("severity", 6).alias("severity"),
        # 4dp: windowed avg is segment-tree order in DuckDB, sequential in
        # Spark — last-ulp differences straddle the 1e-6 rounding boundary
        F.round("attn_delta", 4).alias("attn_delta"),
    ).orderBy("h")


def _mvad_sliding_windows(spark, sf_dir):
    """W7 — normalized sliding-window extraction (dataset.py:51-82); arrays
    summarized to scalar means so the oracle compare is exact."""
    from anomaly_detector_spark.operators import mvad

    out = mvad.sliding_windows(
        _mvad_filled(spark, sf_dir), _MVAD_COLS, order_col="h",
        window_size=24, interval=6, horizon=1,
    )
    sel = [F.col("window_end")]
    for c in _MVAD_COLS:
        mean = F.aggregate(f"x_{c}", F.lit(0.0), lambda a, x: a + x) / F.size(f"x_{c}")
        # 4dp like attn_delta: Spark's sequential fold vs DuckDB's
        # segment-tree windowed avg differ in the last ulp
        sel.append(F.round(mean, 4).alias(f"xmean_{c}"))
        sel.append(F.round(f"y_{c}", 6).alias(f"y_{c}"))
    return out.select(*sel).orderBy("window_end")


def _mvad_contributors(spark, sf_dir):
    """M14 (contributor shares) + A7 (top-k contributor packing)."""
    from anomaly_detector_spark.operators import mvad

    df = _mvad_filled(spark, sf_dir).withColumn(
        "rmses", F.array(*[F.abs(F.col(c) - 50.0) for c in _MVAD_COLS])
    )
    df = mvad.contributor_scores(df, "rmses")
    df = mvad.top_k_contributors(df, "contributor_scores", _MVAD_COLS, k=2)
    return (
        df.select(F.col("h").cast("string").alias("h"),
                  F.posexplode("interpretation").alias("rank0", "i"))
        .select(
            "h",
            (F.col("rank0") + 1).alias("rank"),
            F.col("i.variable_name").alias("variable_name"),
            F.round("i.contribution_score", 6).alias("contribution_score"),
        )
        .orderBy("h", "rank")
    )


def _transcripts_validation(spark, sf_dir):
    """Full constraint sweep over the synthetic transcripts table (no oracle:
    the synthetic table is engine-generated, not one of the shared views)."""
    from anomaly_detector_spark.data import synth_registry, synth_transcripts
    from anomaly_detector_spark.engine.runner import run_validation

    transcripts = synth_transcripts(spark, n_convs=200, seed=42)
    registry = synth_registry(spark, n_convs=200, seed=42)
    # one-shot verdicts-only consumer: skip the intermediate persists so the
    # query pins nothing in the session cache (ValidationResult.release()
    # would be unreachable — the result object is discarded here)
    return run_validation(
        spark, transcripts, registry, cache_input=True, persist_intermediates=False
    ).verdicts.orderBy("check", "partition_key")


def _media_features(spark, sf_dir):
    """Multimodal decode + feature extraction over real container payloads
    (PPM/BMP/WAV/Y4M), aggregated per modality.  No oracle: DuckDB cannot
    decode media containers; covered by tests/test_codecs.py (lossless
    roundtrips) and tests/test_operators.py multimodal tests."""
    from anomaly_detector_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, n=256, seed=42)
    feats = extract_features(media, grid=4)
    return (
        feats.groupBy("kind", "container")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("decode_ok").cast("int")).alias("n_decoded"),
            F.round(F.avg("n_bytes"), 2).alias("avg_bytes"),
            F.round(F.avg(F.element_at("feature", 1)), 6).alias("avg_feat0"),
            F.round(F.avg(F.element_at("feature", 18)), 6).alias("avg_feat17"),
        )
        .orderBy("kind", "container")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": _q1_pricing_summary,
        "q3_shipping_priority": _q3_shipping_priority,
        "q5_nation_revenue": _q5_nation_revenue,
        "q10_top_customers": _q_top_customers,
        "stats_orders": _stats_orders,
        "stats_events_by_type": _stats_events_by_type,
        "majority_ratio_events": _majority_ratio_events,
        "uniqueness_violations": _uniqueness_violations,
        "referential_violations": _referential_violations,
        "domain_violations": _domain_violations,
        "monotonic_violations": _monotonic_violations,
        "gap_violations": _gap_violations,
        "rolling_daily_revenue": _rolling_daily_revenue,
        "topk_parts_per_brand": _topk_parts_per_brand,
        "histogram_events": _histogram_events,
        "dedup_exact": _dedup_exact,
        "text_quality": _text_quality,
        "token_stats_by_source": _token_stats_by_source,
        "ngram_jaccard_sample": _ngram_jaccard_sample,
        "ann_brute_force": _ann_brute_force,
        "ann_lsh_topk": _ann_lsh_topk,
        "ann_ivf_topk": _ann_ivf_topk,
        "ann_ivf_indexed": _ann_ivf_indexed,
        "embedding_near_dups": _embedding_near_dups,
        "minhash_near_dups": _minhash_near_dups,
        "simhash_buckets": _simhash_buckets,
        "language_id": _language_id,
        "fingerprints": _fingerprints,
        "sr_drift_events": _sr_drift_events,
        "drift_verdicts": _drift_verdicts,
        "transcripts_validation": _transcripts_validation,
        "media_features": _media_features,
        "robust_stats_by_type": _robust_stats_by_type,
        "acf_event_rate": _acf_event_rate,
        "mvad_fill_na": _mvad_fill_na,
        "mvad_pct_weight": _mvad_pct_weight,
        "mvad_drift_threshold": _mvad_drift_threshold,
        "mvad_sliding_windows": _mvad_sliding_windows,
        "mvad_contributors": _mvad_contributors,
    }


def _mvad_oracle_sqls() -> dict[str, str]:
    """DuckDB equivalents of the MVAD queries.  The shared prefix builds the
    hourly 3-variable frame and linear-fills it with pandas
    interpolate(limit_direction='both') semantics (interior linear by row
    distance, ends clamped, trailing fillna(0))."""
    cols = _MVAD_COLS
    anchor = ",\n        ".join(
        f"""{c},
        last_value({c} IGNORE NULLS) OVER wp AS p_{c},
        last_value(CASE WHEN {c} IS NOT NULL THEN rn END IGNORE NULLS) OVER wp AS pr_{c},
        first_value({c} IGNORE NULLS) OVER wn AS n_{c},
        first_value(CASE WHEN {c} IS NOT NULL THEN rn END IGNORE NULLS) OVER wn AS nr_{c}"""
        for c in cols
    )
    fill = ",\n        ".join(
        f"""coalesce(CASE WHEN {c} IS NOT NULL THEN {c}
                  WHEN p_{c} IS NULL THEN n_{c}
                  WHEN n_{c} IS NULL THEN p_{c}
                  ELSE p_{c} + (n_{c} - p_{c}) * (rn - pr_{c}) / (nr_{c} - pr_{c}) END, 0) AS {c}"""
        for c in cols
    )
    prefix = f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   avg(CASE WHEN event_type = 'click' THEN value END) AS v_click,
                   avg(CASE WHEN event_type = 'view' THEN value END) AS v_view,
                   avg(CASE WHEN event_type = 'purchase' THEN value END) AS v_purchase
            FROM events GROUP BY 1
        ),
        num AS (SELECT *, row_number() OVER (ORDER BY h) AS rn FROM hourly),
        anchors AS (
            SELECT h, rn,
        {anchor}
            FROM num
            WINDOW wp AS (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wn AS (ORDER BY rn ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        ),
        filled AS (
            SELECT h, rn,
        {fill}
            FROM anchors
        )"""

    out = {}
    round_cols = ", ".join(f"round({c}, 6) AS {c}" for c in cols)
    out["mvad_fill_na"] = f"""{prefix}
        SELECT cast(h AS varchar) AS h, {round_cols}
        FROM filled ORDER BY h
    """

    pv_union = "\n            UNION ALL ".join(
        f"SELECT '{c}' AS variable, rn, {c} + 0.0001 AS s FROM filled" for c in cols
    )
    out["mvad_pct_weight"] = f"""{prefix},
        pv AS (
            {pv_union}
        ),
        d AS (
            SELECT variable, rn, s,
                   lag(s) OVER w AS ls, lead(s) OVER w AS ns
            FROM pv WINDOW w AS (PARTITION BY variable ORDER BY rn)
        ),
        d2 AS (
            SELECT variable, rn,
                   CASE WHEN ls IS NOT NULL AND ns IS NOT NULL
                        THEN least(greatest(abs(ls / s - 1), abs(ns / s - 1)), 2.0) END AS d2
            FROM d
        ),
        r AS (
            SELECT variable,
                   CASE WHEN rn >= 24 AND count(d2) OVER w = 24
                        THEN max(d2) OVER w END AS roll
            FROM d2
            WINDOW w AS (PARTITION BY variable ORDER BY rn
                         ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        ),
        agg AS (SELECT variable, avg(roll) AS raw FROM r GROUP BY 1)
        SELECT variable, round(raw, 6) AS pct_weight_raw,
               CASE WHEN raw > 1.9
                    THEN (SELECT sum(CASE WHEN raw > 1.9 THEN 1 ELSE 0 END) * 1.0 / count(*) FROM agg)
                    ELSE 1.0 END AS weight
        FROM agg ORDER BY variable
    """

    out["mvad_drift_threshold"] = f"""{prefix},
        s AS (SELECT h, rn, v_click AS score FROM filled),
        a AS (
            SELECT h, rn, score,
                   score - avg(score) OVER (ORDER BY rn ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
                       AS attn_delta
            FROM s
        ),
        t AS (
            SELECT *,
                   list_sort(list(score) OVER (ORDER BY rn ROWS BETWEEN 46 PRECEDING AND 23 PRECEDING)) AS wl
            FROM a
        ),
        thr AS (
            SELECT h, rn, score, attn_delta,
                   wl[cast(floor(len(wl) * 0.95) AS int) + 1] AS threshold
            FROM t WHERE rn >= 24
        )
        SELECT cast(h AS varchar) AS h, round(score, 6) AS score,
               round(threshold, 6) AS threshold,
               ((score >= threshold AND score >= 0.3) OR score > 50.0) AS is_anomaly,
               round(CASE WHEN (score >= threshold AND score >= 0.3) OR score > 50.0
                          THEN score / (exp(1) - 1) ELSE 0.0 END, 6) AS severity,
               round(attn_delta, 4) AS attn_delta
        FROM thr ORDER BY h
    """

    norm_cols = ",\n            ".join(
        f"least(greatest(({c} - min({c}) OVER ()) / (max({c}) OVER () - min({c}) OVER () + 1e-8), 0.0), 1.0) AS {c}"
        for c in cols
    )
    win_cols = ",\n            ".join(
        f"avg({c}) OVER wt AS xmean_{c}, lead({c}, 1) OVER (ORDER BY rn) AS y_{c}"
        for c in cols
    )
    out_cols = ", ".join(
        f"round(xmean_{c}, 4) AS xmean_{c}, round(y_{c}, 6) AS y_{c}" for c in cols
    )
    out["mvad_sliding_windows"] = f"""{prefix},
        norm AS (
            SELECT rn,
            {norm_cols}
            FROM filled
        ),
        win AS (
            SELECT rn AS window_end, count(*) OVER () AS n,
            {win_cols}
            FROM norm
            WINDOW wt AS (ORDER BY rn ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        )
        SELECT window_end, {out_cols}
        FROM win
        WHERE window_end >= 24 AND (window_end - 24) % 6 = 0
          AND (window_end - 24) / 6 < floor((n - 24) / 6)
        ORDER BY window_end
    """

    contrib_union = "\n            UNION ALL ".join(
        f"SELECT h, '{c}' AS variable_name, abs({c} - 50.0) AS r FROM filled" for c in cols
    )
    out["mvad_contributors"] = f"""{prefix},
        long AS (
            {contrib_union}
        ),
        shares AS (
            SELECT h, variable_name, r / sum(r) OVER (PARTITION BY h) AS cs
            FROM long
        ),
        rk AS (
            SELECT cast(h AS varchar) AS h, variable_name, cs,
                   row_number() OVER (PARTITION BY h ORDER BY cs DESC, variable_name) AS rank
            FROM shares
        )
        SELECT h, rank, variable_name, round(cs, 6) AS contribution_score
        FROM rk WHERE rank <= 2
        ORDER BY h, rank
    """
    return out


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "q5_nation_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """,
        "q10_top_customers": """
            SELECT c_custkey, c_name,
                   round(sum(o_totalprice), 2) AS total_spent,
                   count(*) AS order_count
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY total_spent DESC, c_custkey
            LIMIT 20
        """,
        "stats_orders": """
            SELECT count(*) AS row_count,
                   round(avg(CASE WHEN o_totalprice IS NULL THEN 1.0 ELSE 0.0 END), 6) AS o_totalprice_null_rate,
                   round(min(o_totalprice), 4) AS price_min,
                   round(max(o_totalprice), 4) AS price_max,
                   round(avg(o_totalprice), 4) AS price_avg,
                   round(stddev_pop(o_totalprice), 4) AS price_stddev,
                   round(quantile_cont(o_totalprice, 0.25), 4) AS price_q25,
                   round(quantile_cont(o_totalprice, 0.50), 4) AS price_q50,
                   round(quantile_cont(o_totalprice, 0.75), 4) AS price_q75
            FROM orders
        """,
        "stats_events_by_type": """
            SELECT event_type,
                   count(*) AS n,
                   round(avg(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_rate,
                   count(DISTINCT user_id) AS n_users,
                   round(min(value), 6) AS v_min,
                   round(max(value), 6) AS v_max,
                   round(avg(value), 6) AS v_avg
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "majority_ratio_events": """
            WITH bounds AS (SELECT min(value) lo, max(value) hi, count(*) n FROM events),
            buckets AS (
                SELECT least(cast(floor((value - lo) / ((hi - lo) / 20)) AS int), 19) AS bucket,
                       count(*) AS cnt, any_value(n) AS n
                FROM events, bounds GROUP BY 1
            )
            SELECT round(max(cnt) * 1.0 / any_value(n), 6) AS majority_ratio,
                   max(cnt) AS majority_count
            FROM buckets
        """,
        "uniqueness_violations": """
            SELECT l_orderkey, l_linenumber, count(*) AS dup_count
            FROM lineitem
            GROUP BY l_orderkey, l_linenumber
            HAVING count(*) > 1
            ORDER BY l_orderkey, l_linenumber
        """,
        "referential_violations": """
            SELECT DISTINCT l_partkey AS key FROM lineitem
            WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
            ORDER BY key
        """,
        "domain_violations": """
            SELECT event_type AS bad_value, count(*) AS n
            FROM events
            WHERE event_type IS NOT NULL
              AND event_type NOT IN ('click', 'view', 'purchase')
            GROUP BY event_type
            ORDER BY bad_value
        """,
        "monotonic_violations": """
            WITH lagged AS (
                SELECT user_id, event_id, ts,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
                FROM events
            )
            SELECT user_id, count(*) AS n_violations
            FROM lagged
            WHERE prev_ts IS NOT NULL AND prev_ts >= ts
            GROUP BY user_id
            ORDER BY user_id
        """,
        "gap_violations": """
            WITH agg AS (
                SELECT l_orderkey,
                       min(l_linenumber - 1) AS min_turn,
                       max(l_linenumber - 1) AS max_turn,
                       count(DISTINCT l_linenumber - 1) AS n_distinct
                FROM lineitem GROUP BY l_orderkey
            )
            SELECT l_orderkey, min_turn, max_turn, n_distinct,
                   max_turn + 1 - n_distinct AS missing_count
            FROM agg
            WHERE min_turn != 0 OR n_distinct != max_turn + 1
            ORDER BY l_orderkey
        """,
        "rolling_daily_revenue": """
            WITH daily AS (
                SELECT cast(o_orderdate AS date) AS d,
                       round(sum(o_totalprice), 2) AS daily_total
                FROM orders GROUP BY 1
            )
            SELECT cast(d AS varchar) AS d, daily_total,
                   round(avg(daily_total) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
                       AS rolling_7d_avg
            FROM daily
            ORDER BY d
            LIMIT 100
        """,
        "topk_parts_per_brand": """
            WITH ranked AS (
                SELECT p_brand, p_partkey, p_retailprice,
                       row_number() OVER (PARTITION BY p_brand
                                          ORDER BY p_retailprice DESC, p_partkey ASC) AS rank
                FROM part
            )
            SELECT p_brand, rank, p_partkey, round(p_retailprice, 2) AS price
            FROM ranked WHERE rank <= 3
            ORDER BY p_brand, rank
        """,
        "histogram_events": """
            WITH bounds AS (SELECT min(value) lo, max(value) hi FROM events)
            SELECT least(cast(floor((value - lo) / ((hi - lo) / 20)) AS int), 19) AS bucket,
                   count(*) AS n
            FROM events, bounds
            GROUP BY 1
            ORDER BY bucket
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS min_doc_id, count(*) AS dup_count
            FROM documents
            GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
            HAVING count(*) > 1
            ORDER BY min_doc_id
        """,
        "text_quality": """
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_words,
                   round(length(text) * 1.0 /
                         greatest(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')), 1), 6)
                       AS avg_word_len,
                   round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 /
                         greatest(length(text), 1), 6) AS digit_ratio
            FROM documents
            ORDER BY doc_id
            LIMIT 500
        """,
        "token_stats_by_source": """
            SELECT source,
                   count(*) AS n_docs,
                   cast(sum(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS bigint) AS total_words,
                   round(avg(length(text)), 4) AS avg_chars
            FROM documents
            GROUP BY source
            ORDER BY source
        """,
        "ngram_jaccard_sample": """
            WITH sets AS (
                SELECT doc_id,
                       list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS s
                FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.s, b.s)) * 1.0 /
                         len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1
            ORDER BY id_a
        """,
        "embedding_near_dups": """
            WITH base AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings
            ),
            planted AS (
                SELECT vec_id + 100000 AS vec_id, [v[1] + 0.05] || v[2:] AS v
                FROM base WHERE vec_id < 20
            ),
            corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.95
            ORDER BY id_a, id_b
        """,
        "ann_brute_force": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       list_cosine_similarity(q.qv, e.embedding) AS cos
                FROM embeddings e, q
            ),
            ranked AS (
                SELECT query_id, vec_id, cos,
                       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
                FROM scored
            )
            SELECT query_id, rank, vec_id, round(cos, 4) AS cosine
            FROM ranked WHERE rank <= 10
            ORDER BY query_id, rank
        """,
        "robust_stats_by_type": """
            WITH med AS (
                SELECT event_type,
                       quantile_cont(value, 0.5) AS med,
                       count(value) AS n_values
                FROM events GROUP BY 1
            )
            SELECT e.event_type,
                   any_value(m.n_values) AS n_values,
                   round(any_value(m.med), 6) AS median,
                   round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad_raw
            FROM events e JOIN med m ON e.event_type = m.event_type
            GROUP BY e.event_type
            ORDER BY e.event_type
        """,
        "acf_event_rate": f"""
            WITH hourly AS (
                SELECT date_trunc('hour', ts) AS h, cast(count(*) AS double) AS v
                FROM events GROUP BY 1
            ),
            d AS (SELECT h, v - avg(v) OVER () AS d FROM hourly),
            leads AS (
                SELECT d,
                {", ".join(f"lead(d, {k}) OVER (ORDER BY h) AS d{k}" for k in range(1, _ACF_LAGS + 1))}
                FROM d
            ),
            agg AS (
                SELECT sum(d * d) AS denom,
                {", ".join(f"sum(d * d{k}) AS num{k}" for k in range(1, _ACF_LAGS + 1))}
                FROM leads
            )
            {" UNION ALL ".join(f"SELECT {k} AS lag, round(num{k} / denom, 6) AS acf FROM agg" for k in range(1, _ACF_LAGS + 1))}
            ORDER BY lag
        """,
        **_mvad_oracle_sqls(),
    }
