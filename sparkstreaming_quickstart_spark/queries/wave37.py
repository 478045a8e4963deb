"""Wave 37 (round 10): streaming near-dup, storage layout, and the
TF-IDF scale path.

- q372 streaming MinHash-LSH near-dup: the stateful member the streaming
  dedup family lacked (exact keys q72/q164, sketches q340/q367); its
  min-(cap+1) bucket set state makes the final answer provably independent
  of the micro-batch split, so it carries the FULL exact-Jaccard value
  oracle of its batch sibling q52.
- q373/q374 storage layout: bucketBy co-located join (plan-pinned ZERO
  exchanges below the join) and partitionBy pruned scan (predicate consumed
  as a PartitionFilter) -- the write-time decisions that kill the join
  shuffle and the scan at 100 TB.
- q375 TF-IDF cosine via LSH candidates + exact verify: replaces the fenced
  ground-truth q222; its oracle REPLAYS the whole candidate chain (conv-md5
  shingle hashes + the Arrow kernel's affine family as SQL literals), which
  exposed and fixed the kernel's latent B==A tuple-unpacking bug.
- q376 per-doc top-k TF-IDF keywords; q377 truncated EWMA as a windowed
  weighted fold (the distributable spelling of the recursive definition).

Reference parity note: the reference's only streaming operator is a
Kafka->println DStream pipeline (Processor.java:118-139); this module is new
engine surface in the same Structured-Streaming idiom as queries/streaming.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import MINHASH_BANDS, MINHASH_BUCKET_CAP, MINHASH_HASHES, MINHASH_SEED
from ..sources.catalog import load_table
from . import register
from .llm import _jaccard_oracle

# Mirror q52's parameters exactly: same shingles and verify threshold as its
# minhash_lsh_pairs call, and dedup's MINHASH_* signature family, banding
# and hot-bucket cap -- the streaming output must equal minhash_lsh_pairs'
# batch output row for row.
_SMH_N = 3
_SMH_T = 0.7


def _smh_update(cap: int):
    """Per-(band, band_key) bucket state kernel.

    State is the min-(cap+1) SET of member doc_ids: min-K of a set union is
    associative, commutative and idempotent, so the final state equals the
    batch bucket membership under ANY micro-batch split (the q367 merge-law
    argument).  cap+1 is all the state a drop-oversize-buckets policy needs:
    n_ids == cap+1 proves the true bucket exceeds the cap (drop it, exactly
    like minhash_lsh_pairs' bucket_cap filter), while n_ids <= cap proves
    the array IS the complete bucket.  n_rows counts rows processed -- it
    strictly increases across a key's updates, so the drain can pick each
    key's FINAL emission deterministically with max_by (n_ids alone cannot:
    the min-K set can change content at constant size, e.g. [3,5,7] ->
    [1,3,5]).  The signature/banding math all runs BEFORE this kernel as
    JVM expressions + the shared Arrow minhash kernel; Python here only
    unions, sorts and truncates longs.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdfs, state: GroupState):
        if state.exists:
            ids, n_rows = state.get
            pool = set(ids)
        else:
            pool, n_rows = set(), 0
        for pdf in pdfs:
            n_rows += len(pdf)
            pool.update(int(x) for x in pdf["doc_id"])
        sk = sorted(pool)[: cap + 1]
        state.update(([int(x) for x in sk], n_rows))
        yield pd.DataFrame(
            {
                "band": [int(key[0])],
                "band_key": [int(key[1])],
                "ids": [sk],
                "n_ids": [len(sk)],
                "n_rows": [n_rows],
            }
        )

    return update


# Sharded state (round 13): one state key PER BUCKET means ~n_docs x bands
# tiny groups, and applyInPandasWithState pays a per-KEY pandas round-trip
# -- measured 289 s at sf1 (50k docs -> ~1.2M keys) with the kernel itself
# doing microseconds of work.  The shard kernel keys state by
# (band, pmod(band_key, _SMH_SHARDS)) and holds ALL of the shard's buckets
# in one flattened-array state row, merging a whole micro-batch's rows per
# shard in vectorized numpy.  Bucket-level state is UNCHANGED (the same
# min-(cap+1) id set per (band, band_key), the same merge law), so the
# drain and the final answer are value-identical; only the state-store
# keying is coarser.  At 100 TB, _SMH_SHARDS bounds the stateful stage's
# parallelism per band -- raise it with the cluster, not the corpus (state
# PER SHARD grows as n_buckets/shards; the per-bucket cap still bounds
# each bucket's entry).
_SMH_SHARDS = 128


def _smh_shard_schemas():
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("band", IntegerType()),
            StructField("band_key", LongType()),
            StructField("ids", ArrayType(LongType())),
            StructField("n_ids", LongType()),
            StructField("n_rows", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("band_keys", ArrayType(LongType())),
            StructField("ids_flat", ArrayType(LongType())),
            StructField("counts", ArrayType(LongType())),
            StructField("n_rows", LongType()),
        ]
    )
    return out_schema, state_schema


def _smh_shard_update(cap: int):
    """Per-(band, shard) state kernel holding every bucket of the shard.

    State is the shard's buckets flattened as (band_keys[], ids_flat[],
    counts[]) with ids_flat sorted ascending within each bucket -- each
    bucket's entry is the same min-(cap+1) doc_id set `_smh_update` keeps,
    so the merge stays associative, commutative and idempotent per bucket
    and the final per-bucket state is split/order independent (the q367
    merge-law argument, unchanged).  Each batch merges vectorized: state
    pairs + batch pairs -> lexsort -> dedupe -> per-bucket rank truncation
    at cap+1 -- no per-bucket Python.  Only buckets TOUCHED this batch are
    emitted (their state is final as of this batch); n_rows is the shard's
    strictly-increasing processed-row counter, so the drain's max_by picks
    each bucket's LAST emission, which carries its final id set.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdfs, state: GroupState):
        band = int(key[0])
        if state.exists:
            bks, flat, cnts, n_rows = state.get
            st_bk = np.repeat(
                np.asarray(bks, dtype=np.int64),
                np.asarray(cnts, dtype=np.int64),
            )
            st_id = np.asarray(flat, dtype=np.int64)
        else:
            st_bk = np.empty(0, dtype=np.int64)
            st_id = np.empty(0, dtype=np.int64)
            n_rows = 0
        nb: list[np.ndarray] = []
        ni: list[np.ndarray] = []
        for pdf in pdfs:
            n_rows += len(pdf)
            nb.append(pdf["band_key"].to_numpy(dtype=np.int64))
            ni.append(pdf["doc_id"].to_numpy(dtype=np.int64))
        batch_bk = np.concatenate(nb) if nb else np.empty(0, dtype=np.int64)
        batch_id = np.concatenate(ni) if ni else np.empty(0, dtype=np.int64)
        touched = np.unique(batch_bk)
        all_bk = np.concatenate([st_bk, batch_bk])
        all_id = np.concatenate([st_id, batch_id])
        order = np.lexsort((all_id, all_bk))
        sb, si = all_bk[order], all_id[order]
        if sb.size:
            keep = np.ones(sb.size, dtype=bool)
            keep[1:] = (sb[1:] != sb[:-1]) | (si[1:] != si[:-1])
            sb, si = sb[keep], si[keep]
            # per-bucket ascending rank; min-(cap+1) truncation
            new_seg = np.concatenate(([True], sb[1:] != sb[:-1]))
            seg_start = np.flatnonzero(new_seg)
            seg_idx = np.cumsum(new_seg) - 1
            rank = np.arange(sb.size) - seg_start[seg_idx]
            keep2 = rank <= cap
            sb, si = sb[keep2], si[keep2]
        ubk, ucnt = np.unique(sb, return_counts=True)
        state.update(
            (ubk.tolist(), si.tolist(), ucnt.tolist(), int(n_rows))
        )
        if touched.size:
            m = np.isin(sb, touched)
            eb, ec = np.unique(sb[m], return_counts=True)
            parts = np.split(si[m], np.cumsum(ec)[:-1])
            yield pd.DataFrame(
                {
                    "band": np.full(eb.size, band, dtype=np.int32),
                    "band_key": eb,
                    "ids": [p.tolist() for p in parts],
                    "n_ids": ec.astype(np.int64),
                    "n_rows": np.full(eb.size, n_rows, dtype=np.int64),
                }
            )

    return update


@register(
    "q372_stream_minhash_neardup",
    sql=_jaccard_oracle(_SMH_T),
    doc="STREAMING MinHash-LSH near-dup pairs with exact-Jaccard verify -- "
    "q52 as a stateful streaming operator, completing the streaming dedup "
    "family (exact keys q72/q164, sketches q340/q367, now near-dups).  "
    "Documents replay as a file stream; shingle hashing and band keys are "
    "the exact JVM expressions q52 uses (shared lsh_band_keys / Arrow "
    "minhash kernel), then applyInPandasWithState keeps per-(band, bucket) "
    "state = the min-(cap+1) SET of member doc_ids -- physically SHARDED "
    "(round 13): state keys are (band, band_key mod 128) and each shard "
    "merges all its buckets vectorized, because per-bucket state keys cost "
    "a per-key pandas round-trip (~1.2M keys = 289 s at sf1, vs ~20 s "
    "sharded; bucket-level state and the final answer are unchanged).  "
    "Min-K set union is "
    "associative, commutative and idempotent, so the final bucket "
    "membership equals the batch computation under ANY micro-batch split "
    "and duplicate arrivals; the drain keeps each bucket's final emission "
    "(max_by on a strictly-increasing row counter), expands in-bucket "
    "pairs, and exact-verifies candidates against the raw text with the "
    "same shared verifier as q52 -- so the output deterministically "
    "equals q52's, which equals the exact formulation at threshold 0.7 "
    "(the 24x4 banding knee argument), hence the FULL exact-Jaccard "
    "value oracle on a STREAMING query.  State per bucket is O(cap) "
    "longs; at 100 TB the stateful shuffle is keyed by (band, band_key) "
    "-- uniform by construction of xxhash64 -- and the memory-sink drain "
    "is test harness only (production: foreachBatch upsert, q177's "
    "pattern).",
)
def q372_stream_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import (
        bucket_member_pairs,
        exact_jaccard_verify,
        hashed_shingle_docs,
        lsh_band_keys,
        minhash_signatures,
    )
    from ..streaming.pipeline import run_to_memory
    from ..streaming.source import table_stream

    out_schema, state_schema = _smh_shard_schemas()
    stream = table_stream(spark, sf_dir, "documents").select("doc_id", "text")
    docs = hashed_shingle_docs(stream, "text", "doc_id", _SMH_N)
    # spread=False: the repartition warm-up probes .rdd, which streaming
    # DataFrames forbid; the file-replay source already splits per file.
    sigs = minhash_signatures(docs, MINHASH_HASHES, MINHASH_SEED, spread=False)
    banded = lsh_band_keys(sigs, MINHASH_HASHES, MINHASH_BANDS)
    # Sharded state (round 13): keying state per bucket costs a per-KEY
    # pandas round-trip (~1.2M keys at sf1 -> 289 s of pure overhead);
    # the shard kernel vectorizes whole shards (24 x _SMH_SHARDS keys).
    res = banded.withColumn(
        "shard", F.pmod(F.col("band_key"), F.lit(_SMH_SHARDS))
    ).groupBy("band", "shard").applyInPandasWithState(
        _smh_shard_update(MINHASH_BUCKET_CAP),
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    table = run_to_memory(res, output_mode="update")
    final = (
        spark.table(table)
        .groupBy("band", "band_key")
        .agg(F.max_by(F.struct("ids", "n_ids"), "n_rows").alias("s"))
        .select(F.col("s.ids").alias("ids"), F.col("s.n_ids").alias("n_ids"))
    )
    buckets = final.filter(
        (F.col("n_ids") >= 2) & (F.col("n_ids") <= MINHASH_BUCKET_CAP)
    ).select("ids")
    cand = bucket_member_pairs(buckets)
    d = load_table(spark, sf_dir, "documents")
    return exact_jaccard_verify(cand, d, "text", "doc_id", _SMH_N, _SMH_T).orderBy(
        "d1", "d2"
    )


# ---------------------------------------------------------------------------
# q373: bucketed co-located join (exchange-free storage bucketing)
# ---------------------------------------------------------------------------

_BUCKETS = 8


def _bucketed_name(prefix: str, sf_dir: str) -> str:
    import hashlib as _h

    return f"{prefix}_{_h.md5(sf_dir.encode()).hexdigest()[:10]}"


@register(
    "q373_bucketed_colocated_join",
    sql="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
    doc=f"Exchange-free co-located join via STORAGE BUCKETING: both join "
    f"sides are written once as bucketed tables ({_BUCKETS} buckets on the "
    "join key, bucket-sorted), and the join then reads bucket i against "
    "bucket i with NO Exchange on either side (the plan-pin test asserts "
    "0 Exchanges below the join vs 2 for the plain-parquet twin) and no "
    "sort for the merge.  This is the core 100 TB shuffle-elimination "
    "technique the rest of the registry can't show from read-only "
    "fixtures: a fact table bucketed at write time amortizes its one "
    "shuffle across every subsequent join/agg on that key (TPC-H q3/q4/"
    "q12/q18-class plans all reuse it).  The write is idempotent per "
    "sf_dir (content-keyed table names, in-memory catalog + "
    "spark.sql.warehouse.dir) and skipped when the tables already exist, "
    "mirroring how production bucketed tables are written once by the "
    "ingest pipeline, not per query.",
)
def q373_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from urllib.parse import urlparse

    ln = _bucketed_name("li_bkt", sf_dir)
    on = _bucketed_name("or_bkt", sf_dir)
    catalog = spark.catalog

    def ensure(name: str, table: str, cols: list[str], key: str) -> None:
        if catalog.tableExists(name):
            return
        # A previous SESSION's in-memory catalog may have left the managed
        # location behind (LOCATION_ALREADY_EXISTS); it is unreferenced by
        # this catalog, so clear it before the idempotent rewrite.
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        load_table(spark, sf_dir, table).select(*cols).write.bucketBy(
            _BUCKETS, key
        ).sortBy(key).mode("overwrite").format("parquet").saveAsTable(name)

    ensure(ln, "lineitem", ["l_orderkey", "l_extendedprice", "l_discount"], "l_orderkey")
    ensure(on, "orders", ["o_orderkey", "o_orderpriority"], "o_orderkey")
    li = spark.table(ln)
    orders = spark.table(on)
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q374: partition-pruned scan (hive-layout partitioned write)
# ---------------------------------------------------------------------------


def _partitioned_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write events once as event_type=<v>/ hive partitions into a
    content-keyed temp dir: the key embeds the source file's mtime+size, so
    regenerating the testdata in place invalidates the cached layout."""
    import hashlib as _h
    import tempfile

    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    key = _h.md5(f"{sf_dir}|{st.st_mtime_ns}|{st.st_size}".encode()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"ssq-events-part-{key}")
    done = os.path.join(out, "_SUCCESS")
    if not os.path.exists(done):
        load_table(spark, sf_dir, "events").write.partitionBy("event_type").mode(
            "overwrite"
        ).parquet(out)
    return out


@register(
    "q374_partition_pruned_scan",
    sql="""
    SELECT CAST(strftime(ts, '%H') AS INT) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
    doc="PARTITION PRUNING off a hive-layout partitioned write: events are "
    "written once as event_type=<v>/ directory partitions (content-keyed "
    "temp dir, the ingest-side layout decision), and the query's "
    "event_type = 'purchase' predicate is consumed as a PartitionFilter "
    "-- the scan lists and reads ONLY the matching directory, no data "
    "filter evaluated, ~1/5 of the bytes here and arbitrarily large "
    "savings at 100 TB where event_type/date partitioning bounds every "
    "scan to the slice a query names.  The plan-pin test asserts the "
    "partition filter is present and the pushed data filters are empty "
    "for the partition column.  Completes the storage-layout family with "
    "q373 (bucketing kills the join shuffle; partitioning kills the "
    "scan).  Hour-of-day extraction runs on the pruned slice; timestamps "
    "are microsecond-us naive (FIXTURES.md), so strftime/hour agree "
    "across engines.",
)
def q374_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    part_dir = _partitioned_events_dir(spark, sf_dir)
    e = spark.read.parquet(part_dir).filter(F.col("event_type") == "purchase")
    return (
        e.groupBy(F.hour("ts").alias("hour_of_day"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("hour_of_day")
    )


# ---------------------------------------------------------------------------
# q375: TF-IDF cosine near-dup -- the LSH-candidate SCALE PATH of q222
# ---------------------------------------------------------------------------

_TFIDF_LSH_T = 0.9
_TL_HASHES = 96
_TL_BANDS = 24
_TL_ROWS = _TL_HASHES // _TL_BANDS


def _tl_u_exprs_sql() -> str:
    """The 96 per-doc minhash values as DuckDB expressions, replaying the
    SAME affine family the Arrow kernel computes: u_j = MIN over shingle
    hashes h (the conv-md5 60-bit positive long, q367's trick) of
    (a_j * (h % p) + b_j) % p with p = 2^31-1 and (a_j, b_j) the seeded
    literals of operators.dedup._hash_family(96, 42).  Every operand is
    positive and a_j * (h % p) < 2^62, so BIGINT '%' and numpy's pmod
    agree exactly -- the kernel was designed for this replay."""
    from ..operators.dedup import _P, _hash_family

    fam = _hash_family(_TL_HASHES, MINHASH_SEED)
    return ",\n            ".join(
        f"list_min(list_transform(xs, h -> ({a} * (h % {_P}) + {b}) % {_P})) AS u{j}"
        for j, (a, b) in enumerate(fam)
    )


def _tl_band_branches_sql() -> str:
    return "\n        UNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '|' || ".join(
            f"CAST(u{_TL_ROWS * b + r} AS VARCHAR)" for r in range(_TL_ROWS)
        )
        + " AS key FROM mh"
        for b in range(_TL_BANDS)
    )


_TL_ORACLE = f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS ts
        FROM documents WHERE length(text) > 0),
    shl AS (
        SELECT doc_id, list_distinct(
            CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
                 ELSE list_transform(range(1, len(ts) - 1),
                                     i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
            END) AS sh
        FROM base),
    hsh AS MATERIALIZED (
        SELECT doc_id, list_transform(sh,
            s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS xs
        FROM shl WHERE len(sh) > 0),
    mh AS MATERIALIZED (
        -- MATERIALIZED: 24 band branches consume mh; inlined, DuckDB
        -- re-evaluates the whole 96-lambda min-grid (and hsh's md5 pass)
        -- once PER BRANCH and ran the container out of temp disk at sf1.
        -- Materialized it is doc_id + 96 BIGINTs (~40 MB at 50k docs).
        SELECT doc_id,
            {{u_exprs}}
        FROM hsh),
    bkt AS (
        {{band_branches}}
    ),
    bs AS (SELECT band, key, COUNT(*) AS c FROM bkt GROUP BY 1, 2),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bkt a
        JOIN bkt b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        JOIN bs ON bs.band = a.band AND bs.key = a.key
        WHERE bs.c <= {{cap}}),
    tok AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents WHERE length(text) > 0)
        GROUP BY 1, 2),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
    df AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY 1),
    w AS MATERIALIZED (
        SELECT doc_id, token, tf * ln(CAST(n.n AS DOUBLE) / df.df) AS w
        FROM tok JOIN df USING (token), n),
    nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY 1),
    dots AS (
        SELECT cand.d1, cand.d2, SUM(a.w * b.w) AS dot
        FROM cand
        JOIN w a ON a.doc_id = cand.d1
        JOIN w b ON b.doc_id = cand.d2 AND b.token = a.token
        GROUP BY 1, 2)
    SELECT d1, d2, ROUND(dot / (x.nrm * y.nrm), 6) AS cos_sim
    FROM dots JOIN nrm x ON d1 = x.doc_id JOIN nrm y ON d2 = y.doc_id
    WHERE ROUND(dot / (x.nrm * y.nrm), 6) >= {_TFIDF_LSH_T}
    ORDER BY d1, d2
    """.format(
    u_exprs=_tl_u_exprs_sql(), band_branches=_tl_band_branches_sql(), cap=256
)


@register(
    "q375_tfidf_cosine_lsh",
    sql=_TL_ORACLE,
    doc="TF-IDF cosine near-dup pairs through MinHash-LSH CANDIDATES -- the "
    "scale path that replaces q222's exact inverted-index join (fenced "
    "ground-truth: Sum C(df,2), ~1e9 rows on a realistic Zipf sf1 "
    "corpus).  Candidate generation is banded MinHash whose ENTIRE chain "
    "is replayed by the oracle -- no capture argument: shingle hash = "
    "the conv-md5 60-bit positive long (q367's trick), minhash_j = the "
    "shared Arrow kernel's affine family (a_j*(h%p)+b_j)%p at p=2^31-1 "
    "whose every operand fits BIGINT exactly (the kernel docstring's "
    "design constraint, cashed in here: the oracle carries the seeded "
    "(a_j, b_j) as literals), band key = the 4 row-mins joined with "
    "'|', buckets capped at 256 (q52's hot-bucket rule) -- 24x4 over 96 "
    "hashes, the same knee as q52.  ONE md5 per shingle; the 96-wide "
    "min-grid is vectorized numpy, not 96 interpreted JVM aggregates "
    "(Spark side 20.1 -> 6.1 s steady-state at sf0.1).  The exact TF-IDF cosine over the "
    "FULL un-pruned vector space is then computed for candidate pairs "
    "only: two token equi-joins against the weighted index w, "
    "O(|d1|+|d2|) per candidate, idf/norms linear one-pass aggregates.  "
    "Output = exact cosine >= 0.9 restricted to LSH candidates (the "
    "q65-pattern seeded-restriction contract, here with the restriction "
    "itself value-proven, not argued); production swaps the md5-hex "
    "chain for xxhash64 signatures (q52's kernel) with the identical "
    "plan shape.  SEMANTIC NOTE measured on the driver fixture: "
    "bag-similar token-soup pairs (cos >= 0.9 by tf profile, ~0 shingle "
    "overlap) are NOT near-dup candidates and are correctly absent in "
    "both engines; the planted sequence-level near-copies are caught.",
)
def q375_tfidf_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens, word_shingles
    from ..operators.dedup import bucket_member_pairs, minhash_signatures

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    # candidate generation: conv-md5 shingle hashes (q367's replayable
    # 60-bit positive long) -> the SHARED Arrow affine-minhash kernel
    # (bit-identical to the oracle's (a*h%p+b)%p literals) -> string band
    # keys.  One md5 per shingle instead of 96; the 96-wide min-grid runs
    # vectorized in numpy instead of as interpreted JVM aggregates.
    docs = d.select(
        "doc_id",
        F.transform(
            word_shingles("text", 3),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
        ).alias("xs"),
    ).filter(F.size("xs") > 0)
    sigs = minhash_signatures(docs, _TL_HASHES, MINHASH_SEED)
    band_keys = [
        F.concat_ws(
            "|", *[F.col("mh")[_TL_ROWS * b + r] for r in range(_TL_ROWS)]
        )
        for b in range(_TL_BANDS)
    ]
    banded = sigs.select(
        "doc_id", F.posexplode(F.array(*band_keys)).alias("band", "key")
    )
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= MINHASH_BUCKET_CAP))
    )
    cand = bucket_member_pairs(buckets)
    # Round-14 verify rewrite (guide §2.3 "decide with small rows" / §4.2):
    # the old spelling built the FULL corpus tf-idf index (doc x token rows),
    # persisted it, and attached candidate pairs through two index-wide
    # joins (on d1, then on (d2, token)) plus an index-wide norm aggregate.
    # Only candidate MEMBERS ever matter to the emitted rows, so: the
    # corpus-global statistics (n, per-token df) are still computed over the
    # whole corpus (they must be -- idf is global), but per-doc weight
    # vectors are built ONLY for the distinct candidate members, grouped
    # into hash-sorted (token-hash, weight) arrays, and each pair's exact
    # cosine is computed by one vectorized Arrow kernel (searchsorted match
    # on the 64-bit token hashes -- injective up to negligible collisions,
    # the q51/q185 convention).  The emitted value is round(dot/(n1*n2), 6)
    # with half-away rounding exactly like F.round; dot/norm accumulation
    # order changes (sorted-hash order vs whatever partial-agg order the
    # old F.sum used), which both engines already tolerate at ROUND(,6) --
    # the oracle's own SUM order never matched Spark's either.
    # Attach via the single-consumer member-grouping shape (the round-14
    # exact_jaccard_verify discipline): pair occurrences group per member
    # doc, so the candidate pipeline has ONE reference in the plan and is
    # never re-evaluated per consumer.  The (member, pairs, text) frame --
    # candidate members only, small by LSH construction -- is the one
    # eagerly-materialized intermediate; everything downstream (tf, idf
    # join, vector build, the pair regroup) touches members only.
    long = cand.select(
        "d1", "d2", F.explode(F.array(F.col("d1"), F.col("d2"))).alias("doc_id")
    )
    per_doc = long.groupBy("doc_id").agg(
        F.collect_list(F.struct("d1", "d2")).alias("prs")
    )
    pd_txt = per_doc.join(d.select("doc_id", "text"), "doc_id").localCheckpoint(
        eager=True
    )
    n = d.select(F.countDistinct("doc_id").alias("n"))  # == docs with >=1 token
    df_t = (
        d.select(F.explode(F.array_distinct(tokens("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    tok_m = (
        pd_txt.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    w_m = (
        tok_m.join(df_t, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.xxhash64("token").alias("th"),
            (F.col("tf") * F.log(F.col("n").cast("double") / F.col("df"))).alias("w"),
        )
    )
    vec = (
        w_m.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("th", "w"))).alias("tw"))
        .select(
            "doc_id",
            F.transform("tw", lambda x: x["th"]).alias("ths"),
            F.transform("tw", lambda x: x["w"]).alias("ws"),
        )
    )
    member = (
        pd_txt.select("doc_id", F.explode("prs").alias("p"))
        .join(vec, "doc_id")
        .select(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"), "doc_id", "ths", "ws")
    )
    per_pair = member.groupBy("d1", "d2").agg(
        F.max(F.when(F.col("doc_id") == F.col("d1"), F.struct("ths", "ws"))).alias("a"),
        F.max(F.when(F.col("doc_id") == F.col("d2"), F.struct("ths", "ws"))).alias("b"),
    )
    paired = per_pair.select(
        "d1",
        "d2",
        F.col("a.ths").alias("th1"),
        F.col("a.ws").alias("w1"),
        F.col("b.ths").alias("th2"),
        F.col("b.ws").alias("w2"),
    )

    def _cos_kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            d1s, d2s, coss = [], [], []
            for r in range(len(pdf)):
                th1 = np.asarray(pdf["th1"].iloc[r], dtype=np.int64)
                w1 = np.asarray(pdf["w1"].iloc[r], dtype=np.float64)
                th2 = np.asarray(pdf["th2"].iloc[r], dtype=np.int64)
                w2 = np.asarray(pdf["w2"].iloc[r], dtype=np.float64)
                idx = np.searchsorted(th1, th2)
                ok = (idx < len(th1)) & (th1[np.minimum(idx, len(th1) - 1)] == th2)
                dot = float((w1[idx[ok]] * w2[ok]).sum())
                nrm = float(np.sqrt((w1 * w1).sum()) * np.sqrt((w2 * w2).sum()))
                with np.errstate(divide="ignore", invalid="ignore"):
                    c = dot / nrm if nrm != 0.0 else float("nan")
                # half-away-from-zero rounding, F.round parity
                if np.isfinite(c):
                    c = float(np.copysign(np.floor(abs(c) * 1e6 + 0.5) / 1e6, c))
                if c >= _TFIDF_LSH_T:
                    d1s.append(pdf["d1"].iloc[r])
                    d2s.append(pdf["d2"].iloc[r])
                    coss.append(c)
            yield pd.DataFrame(
                {
                    "d1": pd.Series(d1s, dtype="int64"),
                    "d2": pd.Series(d2s, dtype="int64"),
                    "cos_sim": pd.Series(coss, dtype="float64"),
                }
            )

    return paired.mapInPandas(
        _cos_kernel, "d1 long, d2 long, cos_sim double"
    ).orderBy("d1", "d2")


# ---------------------------------------------------------------------------
# q376: per-document top-k TF-IDF keywords (corpus topic tagging)
# ---------------------------------------------------------------------------

_KW_K = 5


@register(
    "q376_tfidf_keywords",
    sql=f"""
    WITH tok AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents WHERE length(text) > 0)
        GROUP BY 1, 2),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tok),
    w AS (SELECT doc_id, token,
                 ROUND(tf * ln(CAST(n.n AS DOUBLE) / df.df), 9) AS w
          FROM tok
          JOIN (SELECT token, COUNT(*) AS df FROM tok GROUP BY 1) df
            USING (token), n),
    ranked AS (
        SELECT doc_id, token, w,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY w DESC, token) AS rank
        FROM w)
    SELECT doc_id, CAST(rank AS INT) AS rank, token,
           ROUND(w, 6) AS tfidf
    FROM ranked WHERE rank <= {_KW_K}
    ORDER BY doc_id, rank
    """,
    doc=f"Per-document top-{_KW_K} TF-IDF keywords -- the corpus topic-"
    "tagging / keyphrase-extraction primitive every curation pipeline "
    "runs before clustering or routing.  One tokenize pass, a vocab-"
    "bounded df agg broadcast back through the token join, then ONE "
    "window rank per doc -- every stage linear in corpus tokens, no "
    "pairwise anything; at 100 TB the doc_id window partitions are "
    "per-document (perfectly parallel, no skew by construction).  "
    "Ranking uses ROUND(w, 9) with a token tie-break (the q329 rank-"
    "before-round discipline) so top-k sets are engine-exact even if "
    "ln() differs in the last ulp.",
)
def q376_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    tok = (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    n = tok.select(F.countDistinct("doc_id").alias("n"))
    df_t = tok.groupBy("token").agg(F.count("*").alias("df"))
    w = (
        tok.join(df_t, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 9
            ).alias("w"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), F.col("token"))
    return (
        w.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= _KW_K)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "token",
            F.round("w", 6).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# q377: truncated EWMA smoothing over event streams (windowed weighted fold)
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.25
_EWMA_K = 32  # truncation: (1-a)^32 ~ 1e-4 of unit weight


@register(
    "q377_ewma_smoothing",
    sql=f"""
    WITH o AS (
        SELECT event_type, event_id, value,
               list(value) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN {_EWMA_K - 1} PRECEDING AND CURRENT ROW) AS l
        FROM events)
    SELECT event_type, event_id,
           ROUND(
             list_sum(list_transform(l, (x, i) -> x * power({1 - _EWMA_ALPHA}, len(l) - i)))
             / list_sum(list_transform(l, (x, i) -> power({1 - _EWMA_ALPHA}, len(l) - i))),
             6) AS ewma
    FROM o
    ORDER BY event_type, event_id
    """,
    doc=f"Truncated EWMA smoothing of event values per event_type (alpha="
    f"{_EWMA_ALPHA}, last {_EWMA_K} observations; (1-a)^{_EWMA_K} ~ 1e-4 "
    "so truncation error is below the 6-digit output rounding) -- the "
    "metric-smoothing primitive behind drift monitors and rate alarms.  "
    "The recursive EWMA definition is deliberately re-spelled as a "
    "WINDOWED WEIGHTED FOLD: a bounded ROWS frame collects the last "
    f"{_EWMA_K} values in frame order and a higher-order transform "
    "applies the geometric weights -- one shuffle on event_type, "
    "perfectly partitionable, no sequential recursion anywhere (a "
    "recursive spelling cannot distribute; the truncated fold is how "
    "streaming metric systems actually compute it).  Both engines fold "
    "the SAME 32 doubles in the SAME ascending frame order (DuckDB's "
    "lambda index is 1-based, Spark's 0-based -- exponents mirrored "
    "accordingly), so the one division replays exactly at 6 digits.  "
    "Frame order is total: ts ties broken by event_id.",
)
def q377_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    win = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_K - 1), 0)
    )
    l = F.collect_list("value").over(win)
    decay = F.lit(1.0 - _EWMA_ALPHA)
    num = F.aggregate(
        F.transform(
            F.col("l"),
            lambda x, i: x * F.pow(decay, F.size("l") - (i + 1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.transform(
            F.col("l"),
            lambda x, i: F.pow(decay, F.size("l") - (i + 1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        e.select("event_type", "event_id", l.alias("l"))
        .select(
            "event_type",
            "event_id",
            F.round(num / den, 6).alias("ewma"),
        )
        .orderBy("event_type", "event_id")
    )


# ---------------------------------------------------------------------------
# q378: corpus snapshot diff (run-over-run curation audit)
# ---------------------------------------------------------------------------


@register(
    "q378_corpus_snapshot_diff",
    sql="""
    WITH a AS (SELECT doc_id, md5(text) AS h, n_chars FROM documents),
    b AS (
        SELECT doc_id,
               CASE WHEN doc_id % 23 = 5
                    THEN md5(text || ' rev2') ELSE md5(text) END AS h,
               CASE WHEN doc_id % 23 = 5
                    THEN n_chars + 5 ELSE n_chars END AS n_chars
        FROM documents WHERE doc_id % 17 <> 3),
    j AS (
        SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
               CASE WHEN b.doc_id IS NULL THEN 'removed'
                    WHEN a.doc_id IS NULL THEN 'added'
                    WHEN a.h <> b.h THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               COALESCE(b.n_chars, 0) - COALESCE(a.n_chars, 0) AS delta_chars
        FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(delta_chars) AS BIGINT) AS delta_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM j GROUP BY 1 ORDER BY 1
    """,
    doc="Corpus snapshot diff -- the run-over-run audit every curation "
    "pipeline runs before promoting a new corpus version: FULL OUTER join "
    "of two snapshots on doc_id, rows classified added / removed / "
    "changed / unchanged by content hash, with net character drift per "
    "class.  Snapshot B is derived deterministically from the fixture "
    "(docs with doc_id%17==3 dropped; doc_id%23==5 content-revised) so "
    "both engines diff the identical pair -- in production B is simply "
    "the next run's table.  Plan: one co-partitioned full outer join on "
    "the id (both sides hash-partition once; at 100 TB both snapshots "
    "would be bucketed by doc_id -- q373's layout -- making the diff "
    "exchange-free), content compare on md5 so wide text never shuffles "
    "beyond the hash, then a 4-group agg.  No window, no skew exposure "
    "(doc_id unique on both sides).",
)
def q378_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    a = d.select("doc_id", F.md5("text").alias("h"), "n_chars")
    b = d.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 23 == 5, F.md5(F.concat(F.col("text"), F.lit(" rev2")))
        )
        .otherwise(F.md5("text"))
        .alias("h"),
        F.when(F.col("doc_id") % 23 == 5, F.col("n_chars") + 5)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    cls = (
        F.when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
            cls.alias("change_type"),
            (
                F.coalesce(F.col("b.n_chars"), F.lit(0))
                - F.coalesce(F.col("a.n_chars"), F.lit(0))
            ).alias("delta_chars"),
        )
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("delta_chars").cast("bigint").alias("delta_chars"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("change_type")
    )
