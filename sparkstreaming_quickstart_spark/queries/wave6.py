"""Wave-6 operators (round 2): grouped-map applyInArrow, exact distinct
via bitmap aggregates, inverse-distribution aggregates (percentile_cont/
percentile_disc), URL functions, from_csv typed decode, and the idempotent
foreachBatch upsert sink.

q177 is the capstone of the streaming-sink story: the exactly-once
merge-into-a-table pattern (batch-id ledger + deterministic merge) that
every production foreachBatch sink implements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from . import register


@register(
    "q172_apply_in_arrow",
    sql="""
    WITH toks AS (
        SELECT lang, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents)
    SELECT lang,
           CAST(COUNT(DISTINCT token) AS BIGINT) AS vocab_size
    FROM toks GROUP BY lang ORDER BY lang
    """,
    doc="Grouped-map applyInArrow (Spark 4): per-language vocabulary size "
    "computed inside a pyarrow kernel (split -> flatten -> unique), the "
    "zero-copy grouped sibling of q167.  One shuffle to group by lang; "
    "the kernel receives each group as an Arrow table and returns one "
    "row -- the narrow-result contract that makes grouped Python viable "
    "at scale.  (Per-doc dedup in the kernel mirrors list_distinct in "
    "the oracle; the group-level unique collapses the rest.)",
)
def q172_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def vocab(key, table):
        toks = pc.unique(pc.list_flatten(pc.split_pattern(table.column("text"), " ")))
        return pa.table({"lang": [key[0]], "vocab_size": [len(toks)]})

    d = load_table(spark, sf_dir, "documents").select("lang", "text")
    return (
        d.groupBy("lang")
        .applyInArrow(vocab, "lang string, vocab_size long")
        .orderBy("lang")
    )


@register(
    "q173_bitmap_distinct",
    sql="""
    SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Exact COUNT(DISTINCT) via bitmap aggregates (Spark 3.5 bitmap_"
    "bucket_number / bitmap_construct_agg / bitmap_count): keys partition "
    "into 32k-bit buckets, each bucket folds to a fixed-width bitmap, and "
    "distinct = sum of per-bucket popcounts.  The scalable spelling of "
    "exact distinct: the shuffle carries one bitmap per (group, bucket) "
    "instead of every distinct key, and bitmaps OR-merge associatively "
    "(partial aggregation works), where a plain COUNT(DISTINCT) expands "
    "rows.  The oracle is the plain spelling -- results are identical.",
)
def q173_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    per_bucket = (
        o.select(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
            F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
        )
        .groupBy("o_orderpriority", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    return (
        per_bucket.groupBy("o_orderpriority")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_customers"))
        .orderBy("o_orderpriority")
    )


@register(
    "q174_percentile_cont_disc",
    sql="""
    SELECT l_returnflag,
           floor(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) * 100) / 100
               AS median_price,
           quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.25) AS q1_price_disc,
           floor(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9) * 100) / 100
               AS p90_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Inverse-distribution aggregates: percentile_cont (interpolating) "
    "and percentile_disc (an actual data value) WITHIN GROUP -- the ANSI "
    "spelling next to percentile_approx's sketch (q69: bounded state, "
    "this: exact sort-based).  percentile_disc needs no rounding (both "
    "engines return the same stored double); the interpolated forms ride "
    "the floor-at-2-digits guard since .xx5 ties round differently "
    "across engines.",
)
def q174_percentile_cont_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """SELECT l_returnflag,
                  floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY CAST(l_extendedprice AS DOUBLE)) * 100) / 100
                      AS median_price,
                  percentile_disc(0.25) WITHIN GROUP (ORDER BY CAST(l_extendedprice AS DOUBLE))
                      AS q1_price_disc,
                  floor(percentile_cont(0.9) WITHIN GROUP (ORDER BY CAST(l_quantity AS DOUBLE)) * 100) / 100
                      AS p90_qty
           FROM lineitem_v
           GROUP BY l_returnflag
           ORDER BY l_returnflag"""
    )


@register(
    "q175_url_functions",
    sql="""
    SELECT doc_id,
           source || '.example.org' AS host,
           '/docs/' || doc_id AS path,
           lang AS lang_param,
           string_split(text, ' ')[1] || ' ' || string_split(text, ' ')[2] AS q_roundtrip
    FROM documents
    WHERE len(string_split(text, ' ')) >= 2
    ORDER BY doc_id
    """,
    doc="URL scalar family (parse_url HOST/PATH/QUERY-param, url_encode/"
    "url_decode): the web-corpus ingestion primitives (host extraction "
    "for per-domain quality stats, query-param stripping for URL "
    "canonicalization before dedup).  URLs are constructed from base "
    "columns, parsed back, and the query param round-trips through "
    "url_encode -> url_decode, so the oracle derives every output from "
    "the base columns directly -- any parser deviation breaks the match.",
)
def q175_url_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.org/docs/"),
        F.col("doc_id"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&q="),
        F.expr("url_encode(concat_ws(' ', split(text, ' ')[0], split(text, ' ')[1]))"),
    )
    return (
        d.filter(F.size(t) >= 2)
        .withColumn("url", url)
        .select(
            "doc_id",
            F.expr("parse_url(url, 'HOST')").alias("host"),
            F.expr("parse_url(url, 'PATH')").alias("path"),
            F.expr("parse_url(url, 'QUERY', 'lang')").alias("lang_param"),
            F.expr("url_decode(parse_url(url, 'QUERY', 'q'))").alias("q_roundtrip"),
        )
        .orderBy("doc_id")
    )


@register(
    "q176_from_csv",
    sql="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey AS okey,
           CAST(l_linenumber AS INTEGER) AS line,
           CAST(l_quantity AS DOUBLE) AS qty,
           l_returnflag AS flag
    FROM lineitem
    WHERE l_orderkey < 200
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="from_csv typed decode: serialize columns to a CSV line and parse "
    "back with an explicit schema -- the embedded-delimited-string decoder "
    "(log lines, legacy exports) as a codegen expression, no Python.  The "
    "oracle derives the parsed fields from the base columns, so a "
    "parse/format asymmetry (e.g. double formatting) would break it.",
)
def q176_from_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    line = F.concat_ws(
        ",",
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_quantity").cast("double"),
        F.col("l_returnflag"),
    )
    parsed = F.from_csv(line, F.lit("okey BIGINT, line INT, qty DOUBLE, flag STRING"))
    return (
        li.withColumn("p", parsed)
        .select("l_orderkey", "l_linenumber", "p.okey", "p.line", "p.qty", "p.flag")
        .orderBy("l_orderkey", "l_linenumber")
    )


def make_upsert(root: str):
    """Build the idempotent foreachBatch merge for q177 (module-level so the
    retry/idempotency contract is directly testable): batch-id ledger skips
    already-applied batches, merge is max/sum (associative), table swap is
    atomic."""
    import os
    import shutil

    state_dir = os.path.join(root, "state")
    ledger = os.path.join(root, "applied_batches.txt")

    def upsert(batch_df, batch_id: int) -> None:
        applied = set()
        if os.path.exists(ledger):
            with open(ledger) as fh:
                applied = {int(x) for x in fh.read().split() if x}
        if batch_id in applied:  # retried batch: already merged, skip
            return
        sess = batch_df.sparkSession
        delta = batch_df.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type")).alias("last"),
            F.count("*").alias("n_events"),
        )
        if os.path.exists(state_dir):
            prev = sess.read.parquet(state_dir)
            merged = (
                prev.unionByName(delta)
                .groupBy("user_id")
                .agg(F.max("last").alias("last"), F.sum("n_events").alias("n_events"))
            )
        else:
            merged = delta
        tmp = state_dir + ".next"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.rename(tmp, state_dir)
        with open(ledger, "a") as fh:
            fh.write(f"{batch_id}\n")

    return upsert


@register(
    "q177_foreachbatch_upsert",
    sql="""
    SELECT user_id,
           first(event_type ORDER BY ts DESC, event_id DESC) AS last_event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Idempotent foreachBatch upsert -- THE production streaming-sink "
    "pattern: each micro-batch merges per-user state (last event by "
    "(ts, event_id), lifetime count) into a parquet table via "
    "read-merge-atomic-swap, and a batch-id ledger skips already-applied "
    "batches so retried batches cannot double-count (exactly-once on top "
    "of at-least-once delivery).  The merge is a max/sum -- associative "
    "and split-invariant, so the final table equals the batch oracle "
    "under ANY micro-batch replay.  On a real cluster the swap is a "
    "transactional table commit; the ledger logic is identical.",
)
def q177_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..streaming.source import events_stream

    stream = events_stream(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    with tempfile.TemporaryDirectory(prefix="ssq-upsert-") as root:
        (
            stream.writeStream.foreachBatch(make_upsert(root))
            .option("checkpointLocation", os.path.join(root, "ck"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        # Pinned (eager) before the table dir goes.
        state = spark.read.parquet(os.path.join(root, "state")).select(
            "user_id",
            F.col("last.event_type").alias("last_event_type"),
            F.col("n_events").cast("bigint").alias("n_events"),
        ).localCheckpoint()
    return state.orderBy("user_id")


_EUCLID_T = 1.2  # exact output threshold; candidate gate is 1.25x wider


@register(
    "q178_brp_lsh_euclidean",
    sql=f"""
    WITH v AS (SELECT vec_id, embedding FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               sqrt(list_sum(list_transform(generate_series(1, 64),
                    i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
                       * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))))
                   AS dist
        FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT id1, id2, ROUND(dist, 6) AS eucl_dist
    FROM pairs WHERE dist < {_EUCLID_T}
    ORDER BY id1, id2
    """,
    doc="Euclidean near-pair search via MLlib BucketedRandomProjectionLSH "
    "(the p-stable-projection LSH family, Datar et al. 2004): "
    "approxSimilarityJoin generates candidates from 16 OR-amplified hash "
    "tables (probed: 0 missed true pairs at both test SFs; 8 tables left "
    "exactly one), then the reported distance is recomputed EXACTLY from "
    "the raw vectors and gated at the true threshold -- the same "
    "verify-on-candidates contract as q52/q85, so the output equals the "
    "exact all-pairs formulation the oracle computes.  Honest scale note: "
    "this fixture's embeddings are unit-normalized, where euclidean "
    "bucketing barely prunes (distances concentrate near sqrt(2)); for "
    "unit vectors the angular/random-hyperplane family (q55/q65) is the "
    "right prefilter, and BRP-LSH earns its keep on magnitude-carrying "
    "vectors.  The plan shape is still the scale shape: candidates from "
    "hash-bucket equi-joins, never the n^2 pair space -- but on THIS "
    "corpus the non-pruning buckets make it effectively all-pairs "
    "(SCALING.md: keep for drop-in MLlib compatibility only; q55/q65 are "
    "the production paths).",
    scale_class="ground-truth",
)
def q178_brp_lsh_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from ..operators.similarity import bucketed_euclid_pairs_arrow

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("arr"),
    )
    feat = e.withColumn("features", array_to_vector("arr"))
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=4.0 * _EUCLID_T,
        numHashTables=16,
        seed=42,
    ).fit(feat)
    # Round-13 optimization: the candidate semantics of approxSimilarityJoin
    # -- a pair is a candidate iff it shares some (table, hash-bucket) --
    # spelled as the model's transform + one groupBy, with the exact
    # re-verify fused into a per-bucket Arrow kernel.  The old plan exploded
    # BOTH join sides to 16 hash entries carrying the full struct (features
    # vector + all 16 hash vectors) through the shuffle, deduped the wide
    # candidate pairs, then paid two more joins + a per-pair interpreted
    # 64-wide JVM fold to re-verify (84.6 s at sf0.1).  Here the shuffle
    # rows are (vec_id, 64 doubles, table, bucket), the kernel scores each
    # bucket's pair block with fold-association vector ops (bit-identical
    # values, old-vs-new pinned), and distinct() collapses multi-table
    # agreement on identical rounded rows.  Same MLlib model, same hash
    # tables, same candidate set, same output.
    buckets = model.transform(feat).select(
        "vec_id",
        "arr",
        F.posexplode(
            F.transform("hashes", lambda h: vector_to_array(h)[0])
        ).alias("tbl", "h"),
    )
    pairs = bucketed_euclid_pairs_arrow(
        buckets, ["tbl", "h"], "vec_id", "arr", threshold=_EUCLID_T, round_digits=6
    )
    return pairs.distinct().orderBy("id1", "id2")


@register(
    "q181_mllib_summarizer",
    sql="""
    SELECT label, CAST(pos AS INT) AS pos,
           ROUND(AVG(CAST(v AS DOUBLE)), 6) AS mean_val,
           ROUND(var_samp(CAST(v AS DOUBLE)), 6) AS var_val,
           COUNT(*) AS n
    FROM (SELECT label, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY label, pos
    ORDER BY label, pos
    """,
    doc="MLlib Summarizer vector statistics: per-label elementwise mean and "
    "sample variance of the embedding column in ONE streaming pass over "
    "vectors (Summarizer.metrics('mean','variance','count') aggregates "
    "MLlib Vector values with map-side partials -- the feature-statistics "
    "pass every normalization/whitening step needs).  The q111 centroid "
    "query is the expression-only spelling of the mean; this is the "
    "vector-UDT route, exploded back to (label, dim) rows for the oracle.",
)
def q181_mllib_summarizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.ml.stat import Summarizer

    e = load_table(spark, sf_dir, "embeddings").select(
        "label", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    summ = e.groupBy("label").agg(
        Summarizer.metrics("mean", "variance", "count")
        .summary(F.col("features"))
        .alias("s")
    )
    flat = summ.select(
        "label",
        vector_to_array(F.col("s.mean")).alias("mean_arr"),
        vector_to_array(F.col("s.variance")).alias("var_arr"),
        F.col("s.count").alias("n"),
    )
    return (
        flat.select(
            "label",
            "n",
            F.posexplode(F.arrays_zip(F.col("mean_arr"), F.col("var_arr"))).alias("p", "mv"),
        )
        .select(
            "label",
            (F.col("p") + 1).cast("int").alias("pos"),
            F.round(F.col("mv.mean_arr"), 6).alias("mean_val"),
            F.round(F.col("mv.var_arr"), 6).alias("var_val"),
            "n",
        )
        .orderBy("label", "pos")
    )
