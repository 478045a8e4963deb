"""Deduplication operators for training-data pipelines.

Four tiers, all DataFrame compositions (the only Python in any hot path is
the Arrow-vectorized minhash kernel -- a measured 15x over the interpreted
JVM fold; see minhash_signatures):

  * exact_dedup        -- md5(normalized text) group-pick-one.  One shuffle.
  * ngram_jaccard_pairs -- exact n-word-shingle Jaccard via inverted-index
                          self-join.  Quadratic in the worst case; used as the
                          verifier on LSH candidates and as the oracle-exact
                          formulation at test scale.
  * minhash_lsh_pairs  -- MinHash signatures + banded LSH join.  The 100 TB
                          path: candidate generation cost is O(docs x bands),
                          the exact-Jaccard verify runs only on candidates.
  * simhash_pairs      -- 64-bit SimHash fingerprints + block banding for
                          Hamming-distance<=k pairs.

Determinism: hash family is (a_j * (h(shingle) mod p) + b_j) mod p with
h = xxhash64 over the shingle's token hashes and constants derived from a
fixed seed, so results are stable across runs, partitionings, and cluster
sizes.
"""

from __future__ import annotations

import random
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens, word_shingles

# Mersenne prime 2^31-1: a*x + b stays well within signed-64 range (no
# overflow), keeping the multiply-mod family well-defined.
_P = (1 << 31) - 1

# The MinHash-LSH policy: 96 seeded hashes in 24 bands of 4 rows, and the
# band-bucket size cap.  The batch (minhash_lsh_pairs, q52) and streaming
# (q372) near-dup paths both read these, so they bucket identically.
MINHASH_HASHES = 96
MINHASH_BANDS = 24
MINHASH_SEED = 42
MINHASH_BUCKET_CAP = 256


def _hash_family(num: int, seed: int = 42) -> list[tuple[int, int]]:
    rnd = random.Random(seed)
    return [(rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(num)]


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per distinct text hash; count the duplicates."""
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col)))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def shingle_docs(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingles array, n_shingles) per document."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(text_col, n).alias("shingles"),
    ).withColumn("n_sh", F.size("shingles"))


def _shingle_hashes(th: str, n: int) -> Column:
    """Distinct shingle hashes from a token-hash array column: each shingle is
    xxhash64 over its n consecutive token hashes.  Mirrors word_shingles'
    windowing exactly (same start indices; out-of-range token hashes are NULL,
    which xxhash64 skips, so a short document's single partial shingle hashes
    the tokens it has -- the analogue of concat_ws over a short slice)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(th) - n, F.lit(0))),
            lambda i: F.xxhash64(*[F.get(th, i + k) for k in range(n)]),
        )
    )


def hashed_shingle_docs(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(doc_id, xs: distinct shingle hashes as longs, n_sh) per document.

    The scale form of shingle_docs: tokens are xxhash64-ed ONCE, shingles are
    xxhash64 over the n consecutive token hashes -- no shingle string is ever
    materialized, every downstream key (minhash input, inverted-index join,
    set intersection) is an 8-byte long instead of a ~3-word string.  The map
    string-shingle -> hash is injective up to 64-bit collisions
    (P ~ n_shingles^2 / 2^64, negligible even at 100 TB corpus scale), so
    Jaccard over these sets equals Jaccard over the string shingles.

    Token hashes land in their own projection before the shingle window
    references them n times: Spark does no CSE inside lambda bodies, so an
    inline token-hash subtree would re-hash every token n times.
    """
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokens(text_col), lambda w: F.xxhash64(w)).alias("th"),
    )
    return hashed.select("doc_id", _shingle_hashes("th", n).alias("xs")).withColumn(
        "n_sh", F.size("xs")
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard over n-word shingles: inverted index, bucket-grouped.

    At scale, prefilter with minhash_lsh_pairs and verify only candidates;
    this exact form is the verifier / test-scale oracle.

    Round-13 spelling: the inverted index posts 8-byte HASHED shingles
    (hashed_shingle_docs -- Jaccard over the hashed sets equals Jaccard over
    the string shingles up to negligible 64-bit collisions, the exact
    equivalence minhash_lsh_pairs' verify already relies on), and common
    counts come from ONE groupBy-explode over per-shingle posting lists
    instead of a self-join: the old join evaluated the whole shingling
    subtree once per side (Spark recomputes non-materialized subtrees per
    consumer) and shuffled ~24-char shingle STRINGS twice; this shuffles
    each posting once, as a long.  Counts -- and therefore the emitted
    jaccard doubles (int ratios) -- are identical.
    """
    docs = hashed_shingle_docs(df, text_col, id_col, n)
    inv = docs.select("doc_id", "n_sh", F.explode("xs").alias("h"))
    buckets = (
        inv.groupBy("h")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            "ms",
            lambda x, i: F.transform(
                F.slice("ms", i + F.lit(2), F.size("ms")),
                lambda y: F.struct(
                    x["doc_id"].alias("d1"),
                    y["doc_id"].alias("d2"),
                    x["n_sh"].alias("n1"),
                    y["n_sh"].alias("n2"),
                ),
            ),
        )
    )
    common = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.d1", "p.d2", "p.n1", "p.n2")
        .agg(F.count("*").alias("common"))
    )
    jac = common.withColumn(
        "jaccard", F.col("common").cast("double") / (F.col("n1") + F.col("n2") - F.col("common"))
    )
    return jac.filter(F.col("jaccard") >= threshold).select("d1", "d2", "jaccard")


def _minhash_batches(num_hashes: int, seed: int):
    """Arrow-batch kernel for minhash signatures: (doc_id, xs) -> (doc_id, mh).

    Evaluates the whole (hash_family x shingle) grid per batch with numpy and
    takes per-document minima via `minimum.reduceat` on the concatenated
    shingle hashes.  Bit-identical to the JVM fold it replaced: after the
    pmod reduction every operand is < 2^31-1 (a/b drawn below _P), so
    a*x + b < 2^62 never wraps and `%` agrees between engines on positives.

    Rows are processed in 256-doc slices: the (num_hashes x shingles)
    intermediate then stays ~10 MB -- inside L3 -- which measured ~2x faster
    than the 1024-doc slice (0.22s vs 0.44s for 5000 docs x 96 hashes; the
    grid is memory-bandwidth-bound, not FLOP-bound, so slice size is a cache
    knob rather than a vectorization knob).
    """
    fam = _hash_family(num_hashes, seed)
    # NB round-10 fix: B previously unpacked `for b, _ in fam`, i.e. the
    # FIRST tuple element again, silently making B == A -- the kernel
    # computed (a*x + a) % p.  Still a valid (self-consistent) affine
    # family, so every Jaccard-verified consumer was correct; it surfaced
    # the moment q375's oracle replayed the seeded (a_j, b_j) literals.
    A = np.array([a for a, _ in fam], dtype=np.int64)[:, None]
    B = np.array([b for _, b in fam], dtype=np.int64)[:, None]

    def gen(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), 256):
                sub = pdf.iloc[lo : lo + 256]
                lens = np.fromiter((len(x) for x in sub["xs"]), dtype=np.int64, count=len(sub))
                # Shingle-less docs keep the fold's init value _P (no shingle
                # evidence -> never banded together except with other empties).
                sigs = np.full((len(sub), A.shape[0]), _P, dtype=np.int64)
                ne = lens > 0
                if ne.any():
                    xcat = np.concatenate(
                        [np.asarray(x, dtype=np.int64) for x, keep in zip(sub["xs"], ne) if keep]
                    )
                    # Raw 64-bit shingle hashes -> [0, p).  numpy's % takes
                    # the divisor's sign, so this IS pmod for negative inputs.
                    xcat %= _P
                    starts = np.zeros(int(ne.sum()), dtype=np.int64)
                    np.cumsum(lens[ne][:-1], out=starts[1:])
                    v = (A * xcat[None, :] + B) % _P
                    sigs[ne] = np.minimum.reduceat(v, starts, axis=1).T
                yield pd.DataFrame({"doc_id": sub["doc_id"].to_numpy(), "mh": list(sigs)})

    return gen


def minhash_signatures(docs: DataFrame, num_hashes: int = 128, seed: int = 42, spread: bool = True) -> DataFrame:
    """Compute the minhash signature as one array column `mh` per doc_id.

    `docs` is hashed_shingle_docs output: (doc_id, xs) with xs the distinct
    shingle hashes.  For each hash j: min over shingles of
    (a_j * (h mod p) + b_j) mod p.  Shingle hashing stays JVM-side (xxhash64
    is codegen); the (family x shingle) min-grid runs as ONE Arrow-batched
    mapInPandas kernel (`_minhash_batches`).

    This is the measured exception to the stay-JVM rule.  Three pure-JVM
    formulations were benchmarked at sf0.1 (5000 docs, 96 hashes, ~52
    shingles/doc): a single transform(families, f -> aggregate(...)) fold
    (bimodal 2.9-5.8s -- the 96-wide generated method also crosses a JIT
    cliff), the same fold chunked into 24-wide columns (stable but still
    ~31s when every element is actually evaluated: higher-order functions
    are interpreted expression-eval in Spark, never whole-stage codegen),
    and explode + groupBy with 96 MIN aggregates (exceeds
    spark.sql.codegen.maxFields=100, drops out of codegen entirely).  The
    vectorized Arrow kernel computes the identical integers in ~1.9s
    end-to-end -- ~15x over the interpreted fold -- and transfers one
    (doc_id, 96-long) row per doc back, so the Python boundary moves
    O(docs), not O(docs x shingles).

    `spread=True` round-robin-repartitions first, but only when the input has
    fewer splits than the cluster has slots (a small file read as one split
    would otherwise compute every signature on one core).  At 100 TB the
    input arrives as thousands of splits and this pre-shuffle never happens.

    Consumers should reference the result exactly once in their plan:
    MapInPandas is re-executed once per consumer of a non-materialized
    subtree (an explicit repartition barrier does NOT protect it -- the
    optimizer pushes repartitions below projections), so candidate
    generation downstream must be a groupBy, not a signature self-join;
    minhash_lsh_pairs is shaped around this.
    """
    if spread:
        par = docs.sparkSession.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < par:
            docs = docs.repartition(par)
    hashed = docs.select("doc_id", "xs")
    return hashed.mapInPandas(_minhash_batches(num_hashes, seed), "doc_id long, mh array<long>")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    bucket_cap: int = MINHASH_BUCKET_CAP,
    observation=None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH + exact-Jaccard verification.

    bands=24 x rows=4 over 96 hashes: P(candidate) = 1-(1-j^4)^24, i.e.
    >=1-3.2e-6 at j>=0.8, 0.9986 at j=0.7, ~0.02 at j=0.2 -- candidates are
    tiny vs the n^2 space.  Output equals the exact formulation (same
    threshold) up to the negligible LSH miss probability, so it shares the
    exact oracle.  (96 hashes keeps the same banding knee as 128 with one
    fewer band group; signature cost is linear in the family size via the
    Arrow kernel, so the family width is a recall knob, not a plan hazard.)

    bucket_cap guards the one real skew risk in this plan: a pathological
    band bucket (e.g. thousands of near-empty docs sharing a band key) makes
    the in-bucket pair expansion quadratic.  Buckets larger than the cap are
    dropped before expansion -- standard LSH practice; an oversize bucket is
    either boilerplate/junk text or an exact-dup cluster that exact_dedup
    already catches.  Pass a pyspark.sql.Observation as `observation` to get
    `hot_buckets_dropped` / `hot_bucket_members_dropped` counts recorded on
    the run (no extra job).

    Plan shape rule: every expensive subtree (shingling, signatures) must
    have exactly ONE consumer, because Spark recomputes non-materialized
    subtrees per consumer and repartition barriers don't survive the
    optimizer (it pushes them below projections).  So candidate generation
    is a groupBy -- NOT a self-join, which would evaluate the signature
    pipeline once per join side -- and the exact verify re-shingles ONLY the
    candidate members from the raw text (candidates are tiny; re-deriving
    the full shingled corpus a second time measured ~30% of q52 wall at
    bench scale).
    """
    cand = minhash_lsh_candidates(
        df,
        text_col,
        id_col,
        n=n,
        bucket_cap=bucket_cap,
        observation=observation,
    )
    return exact_jaccard_verify(cand, df, text_col, id_col, n, threshold)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    bucket_cap: int = MINHASH_BUCKET_CAP,
    observation=None,
) -> DataFrame:
    """The candidate stage of minhash_lsh_pairs: (d1 < d2) pairs sharing at
    least one band bucket, buckets capped at bucket_cap.  Exposed separately
    so the signature-computed-once plan invariant can be pinned on the plan
    that actually contains the signature kernel (exact_jaccard_verify's
    checkpoint truncates the final plan's lineage to a LogicalRDD scan)."""
    docs = hashed_shingle_docs(df, text_col, id_col, n)
    # Signatures arrive materialized from the Arrow kernel (see
    # minhash_signatures); band keys index the mh array of that single
    # MapInPandas node -- element access here is a cheap projection over
    # already-computed longs, not a re-evaluation of the signature math.
    sigs = minhash_signatures(docs, MINHASH_HASHES, MINHASH_SEED)
    banded = lsh_band_keys(sigs, MINHASH_HASHES, MINHASH_BANDS)
    # Bucket members -> all (d1 < d2) pairs, generated inside each bucket.
    # One shuffle over the banded rows; same k^2-per-bucket work the self-join
    # formulation does, minus the duplicate signature evaluation.
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if observation is not None:
        buckets = buckets.observe(
            observation,
            F.sum(F.when(F.size("ids") > bucket_cap, 1).otherwise(0)).alias("hot_buckets_dropped"),
            F.sum(F.when(F.size("ids") > bucket_cap, F.size("ids")).otherwise(0)).alias(
                "hot_bucket_members_dropped"
            ),
        )
    buckets = buckets.filter(F.size("ids") <= bucket_cap)
    return bucket_member_pairs(buckets)


def lsh_band_keys(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """One row per (doc, band); band key = hash of that band's signature
    slice.  xxhash64 consumes the signature longs directly -- hashing
    through a string concat costs 128 long->string casts per doc and
    measured ~2x the whole banding stage.  Shared by the batch (q52) and
    streaming (q372) LSH paths so both bucket identically."""
    rows = num_hashes // bands

    def band_key(b: int):
        return F.xxhash64(F.lit(b), *[F.col("mh")[b * rows + r] for r in range(rows)])

    return sigs.select(
        "doc_id",
        F.posexplode(F.array(*[band_key(b) for b in range(bands)])).alias("band", "band_key"),
    )


def bucket_member_pairs(buckets: DataFrame) -> DataFrame:
    """All (d1 < d2) member pairs of each bucket row (`ids` an ASCENDING
    array), distinct across buckets.  Declarative explode of the in-bucket
    pair triangle -- shared by the batch (minhash_lsh_pairs / q52) and
    streaming (q372) LSH candidate paths."""
    pair_structs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("d1"), y.alias("d2")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .distinct()
    )


def exact_jaccard_verify(
    cand: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the raw text.

    Shingles are derived once per DISTINCT candidate member, not once per
    pair occurrence, and the candidate frame has exactly ONE consumer in the
    plan (round-14): pair occurrences group per member doc
    (collect_list of the (d1, d2) pairs each doc participates in), the RAW
    text joins that per-doc frame (column-pruned scan), the hashed shingle
    set is computed once per doc row BELOW the pair re-explode, and the
    per-pair regroup reassembles both sides.  History: the round-12
    spelling computed the shingle set per (pair, member) row, re-tokenizing
    a doc once per pair (measured 6.4 s of q85's 9.3 s at sf0.1); round 13
    fixed that with a distinct-member scan but needed TWO consumers of
    `cand` and therefore a localCheckpoint, whose eager form cost a blocking
    job per consumer at sf0.1 (q52 3.95 vs 2.34 s, q322 6.64 vs 3.07 s) and
    whose lazy form let concurrent broadcast-build threads duplicate the
    whole candidate pipeline at sf1 (q85 88 vs 45 s, q233 65 vs 19 s --
    the round-14 A/B grid in OPTIMIZATION_r14.md).  The groupBy spelling
    dominates BOTH: single evaluation is structural (one reference, nothing
    to duplicate), there is no checkpoint job, no pinned executor storage,
    and no fault-tolerance trade at 100 TB.  The per-doc pair lists are
    bounded by the LSH bucket cap (a doc joins <= bands x cap pairs).
    Jaccard over the hashed sets equals Jaccard over the string shingles
    (injective up to 64-bit collisions), and the intersect works on longs."""
    raw = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
    long = cand.select("d1", "d2", F.explode(F.array(F.col("d1"), F.col("d2"))).alias("doc_id"))
    per_doc = long.groupBy("doc_id").agg(F.collect_list(F.struct("d1", "d2")).alias("prs"))
    with_xs = (
        per_doc.join(raw, "doc_id")
        .select("doc_id", "prs", F.transform(tokens("__text"), lambda w: F.xxhash64(w)).alias("th"))
        .select("doc_id", "prs", _shingle_hashes("th", n).alias("xs"))
        .withColumn("n_sh", F.size("xs"))
    )
    member = with_xs.select(
        "doc_id", "xs", "n_sh", F.explode("prs").alias("p")
    ).select(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"), "doc_id", "xs", "n_sh")
    per_pair = member.groupBy("d1", "d2").agg(
        F.max(F.when(F.col("doc_id") == F.col("d1"), F.struct("n_sh", "xs"))).alias("a"),
        F.max(F.when(F.col("doc_id") == F.col("d2"), F.struct("n_sh", "xs"))).alias("b"),
    )
    verified = (
        per_pair.withColumn("common", F.size(F.array_intersect("a.xs", "b.xs")))
        .withColumn(
            "jaccard",
            F.col("common").cast("double") / (F.col("a.n_sh") + F.col("b.n_sh") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("d1", "d2", "jaccard")


def md5_lower64(c: Column) -> Column:
    """64-bit hash computable identically in Spark and DuckDB: the
    little-endian integer of md5 bytes 8..15, i.e. DuckDB's
    md5_number_lower (probed byte-for-byte equal).  Built from the hex
    string via 8 conv() byte parses OR-ed into disjoint bit ranges --
    bitwiseOR avoids any ANSI overflow concern at bit 63.  Costlier than
    xxhash64 (one md5 + 8 convs per token) but still linear, shuffle-free,
    and fully codegen; use it when a cross-engine oracle must replay the
    hash, xxhash64 otherwise."""
    h = F.md5(c)
    parts = [
        F.shiftleft(F.conv(F.substring(h, 17 + 2 * k, 2), 16, 10).cast("long"), 8 * k)
        for k in range(8)
    ]
    return reduce(Column.bitwiseOR, parts)


def _simhash_fp_batches():
    """Arrow-batch kernel for SimHash fingerprints: (doc_id, th) -> (doc_id, fp).

    Semantics (bit-exact to the interpreted JVM fold it replaced, and to the
    DuckDB oracle's list_sum replay): bit b of fp is 1 iff
    sum over token hashes of (+1 if bit b of the hash is set else -1) > 0,
    i.e. popcount-at-bit > n_tokens/2.  All-integer -- no float anywhere.

    Vectorization: the batch's token hashes concatenate into one int64
    vector; `np.unpackbits(..., bitorder='little')` on its little-endian
    byte view yields the (tokens x 64) bit matrix in bit order 0..63, one
    `np.add.reduceat` per batch folds it to per-document bit counts, and
    `np.packbits` re-packs the majority votes into the int64 fingerprint.
    This replaces SIXTY-FOUR interpreted `F.aggregate` folds per document
    (higher-order functions never enter whole-stage codegen) -- measured
    152s -> ~4s for the q53 fingerprint stage at sf0.1.  256-doc slices
    keep the bit matrix in-cache (the `_minhash_batches` discipline).

    Zero-token documents keep the fold's init value: every sign-sum is 0,
    never > 0, so fp = 0.
    """

    def gen(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), 256):
                sub = pdf.iloc[lo : lo + 256]
                lens = np.fromiter((len(x) for x in sub["th"]), dtype=np.int64, count=len(sub))
                fps = np.zeros(len(sub), dtype=np.int64)
                ne = lens > 0
                if ne.any():
                    xcat = np.concatenate(
                        [np.asarray(x, dtype=np.int64) for x, keep in zip(sub["th"], ne) if keep]
                    )
                    # (tokens, 64) bit matrix; little-endian byte view +
                    # bitorder='little' puts bit b of the hash at column b.
                    bits = np.unpackbits(
                        np.ascontiguousarray(xcat).view(np.uint8).reshape(-1, 8),
                        axis=1,
                        bitorder="little",
                    )
                    starts = np.zeros(int(ne.sum()), dtype=np.int64)
                    np.cumsum(lens[ne][:-1], out=starts[1:])
                    pos = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
                    maj = (2 * pos) > lens[ne][:, None]
                    fps[ne] = (
                        np.packbits(maj, axis=1, bitorder="little")
                        .view("<u8")
                        .ravel()
                        .view(np.int64)
                    )
                yield pd.DataFrame({"doc_id": sub["doc_id"].to_numpy(), "fp": fps})

    return gen


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str, hash_fn: str = "xxhash64") -> DataFrame:
    """(doc_id, fp): 64-bit SimHash per document.

    Token hashing stays JVM-side (xxhash64/md5 are codegen expressions);
    the 64 sign-sum majority votes run as ONE Arrow mapInPandas kernel
    (`_simhash_fp_batches`) -- the same JVM-hash / Arrow-fold split as
    `minhash_signatures`.
    """
    token_hash = F.xxhash64 if hash_fn == "xxhash64" else md5_lower64
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
    )
    hashed = toks.select("doc_id", F.transform("toks", lambda t: token_hash(t)).alias("th"))
    return hashed.mapInPandas(_simhash_fp_batches(), "doc_id long, fp long")


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash within `max_hamming` bits.

    Fingerprint: sign-sum over token hashes per bit, computed by the Arrow
    kernel in `simhash_fingerprints` (JVM-side token hashing, one numpy
    bit-matrix fold per batch -- measured ~20x over the 64 interpreted
    `F.aggregate` folds it replaced).  Candidate generation
    uses the pigeonhole trick -- split the fingerprint into max_hamming+1
    blocks; any pair within the distance budget shares at least one exact
    block, so we join on (block_index, block_value).  Because the pigeonhole
    cover is exhaustive (not probabilistic), the output provably equals the
    all-pairs formulation.

    hash_fn: 'xxhash64' (cheapest, production default) or 'md5' (the
    cross-engine md5_lower64, lets a DuckDB oracle replay the fingerprints).
    Identical plan shape either way.
    """
    fp = simhash_fingerprints(df, text_col, id_col, hash_fn)
    nblocks = max_hamming + 1
    width = 64 // nblocks
    blocks = fp.select(
        "doc_id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), i * width).bitwiseAND(F.lit((1 << width) - 1) if i < nblocks - 1 else F.lit(-1))
                    for i in range(nblocks)
                ]
            )
        ).alias("block", "block_val"),
    )
    # Pair expansion via groupBy + in-bucket combination (the minhash_lsh
    # pattern), NOT a self-join: a self-join re-evaluates the whole
    # fingerprint pipeline -- scan, token hashing, the Arrow kernel -- once
    # per side (the plan audit showed map_in_pandas x2), and shuffles the
    # block frame twice.  One doc appears at most once per (block, value)
    # bucket, so sort_array gives strictly increasing doc_ids and the
    # upper-triangle expansion yields each candidate pair exactly once per
    # shared block (distinct() collapses multi-block agreement).  No bucket
    # cap here: the pigeonhole cover must stay EXHAUSTIVE for the provable
    # all-pairs equivalence -- a pathological boilerplate bucket costs k^2
    # pairs in either spelling.
    buckets = (
        blocks.groupBy("block", "block_val")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "fp"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    # Round-13: the Hamming test moves INSIDE the expansion lambda, before
    # the distinct -- bit_count is a cheap codegen expression, hamming is a
    # pure function of the pair (fp is functionally dependent on doc_id), so
    # filter-then-distinct emits exactly the rows distinct-then-filter did,
    # while the distinct's shuffle carries only the <=max_hamming survivors
    # (measured: the dominant q53 stage shuffled EVERY in-bucket pair with
    # both 8-byte fingerprints, then threw almost all of them away).
    pair_structs = F.flatten(
        F.transform(
            "ms",
            lambda x, i: F.transform(
                F.slice("ms", i + F.lit(2), F.size("ms")),
                lambda y: F.struct(
                    x["doc_id"].alias("d1"),
                    y["doc_id"].alias("d2"),
                    F.bit_count(x["fp"].bitwiseXOR(y["fp"]))
                    .cast("int")
                    .alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.d1", "p.d2", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id) with
    cluster_id = the minimum doc_id reachable in the pair graph.

    Iterative min-label propagation (the DataFrame form of union-find):
    every node starts labeled with itself; each round it adopts the minimum
    label among itself and its neighbors; fixpoint when no label changes,
    or 15 rounds at most.  Rounds needed ~ graph diameter -- near-dup
    clusters are shallow (a dup cluster is near-clique), so convergence is
    fast.  Each round is one
    join + one aggregation, all distributed; the driver only checks the
    converged flag.  localCheckpoint every round truncates the lineage so
    plan size stays constant regardless of iteration count.

    At 100 TB: this is the standard big-graph CC shape (label propagation);
    for adversarial long-chain graphs swap in large-star/small-star, which
    keeps the same per-round join structure.
    """
    # Materialize the (possibly expensive) pair computation ONCE: edges feed
    # the union, the node set, and every propagation round -- lineage-backed,
    # each of those would re-run the whole upstream pipeline (measured 5x+
    # wall on the LSH pair graph at bench scale).
    half = pairs.select(F.col("d1").alias("u"), F.col("d2").alias("v")).localCheckpoint(eager=True)
    edges = half.union(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes = edges.select(F.col("u").alias("doc_id")).distinct()
    labels = nodes.withColumn("label", F.col("doc_id")).localCheckpoint(eager=True)
    for _ in range(15):
        neighbor_min = (
            edges.join(labels, edges.u == labels.doc_id)
            .groupBy(F.col("v").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select("doc_id", F.least(F.col("label"), F.col("nmin")).alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def md5_mod(c: Column, m: int) -> Column:
    """`pmod(md5_lower64(c), m)` computed from only the low bytes when `m`
    is a power of two: the high bytes of the little-endian value contribute
    exact multiples of `m`, so `hash % m` needs just ceil(log2(m)/8) conv
    parses instead of md5_lower64's eight -- measured 2x on q292's
    hash-dominated gram pass.  DuckDB oracles keep the full
    `md5_number_lower(x) % m` spelling; the values are identical.

    The contract for EVERY m is DuckDB's UNSIGNED residue.  md5_lower64 is
    the two's-complement (signed) view, and `pmod(signed, m)` equals the
    unsigned residue only when `2^64 % m == 0` (power-of-two m).  The
    non-power-of-two fallback therefore reconstructs the unsigned value's
    residue exactly: u = s + 2^64*[s < 0], so
    u % m = pmod(pmod(s, m) + [s < 0] * (2^64 % m), m)
    (every operand < 2m, no overflow; pinned vs DuckDB at m=100 by
    test_md5_hash_family_matches_duckdb_and_fast_path)."""
    if m > 0 and (m & (m - 1)) == 0:
        k = max(1, (m.bit_length() - 1 + 7) // 8)
        h = F.md5(c)
        parts = [
            F.shiftleft(
                F.conv(F.substring(h, 17 + 2 * i, 2), 16, 10).cast("long"), 8 * i
            )
            for i in range(k)
        ]
        return F.pmod(reduce(Column.bitwiseOR, parts), F.lit(m))
    s = md5_lower64(c)
    return F.pmod(
        F.pmod(s, F.lit(m))
        + F.when(s < 0, F.lit((1 << 64) % m)).otherwise(F.lit(0)),
        F.lit(m),
    )


def md5_bucket(c: Column, salt: str, mod: int) -> Column:
    """The stable-bucketing contract (q208's split discipline): bucket =
    first-8-hex-digits of md5(salt || value) as an integer, mod `mod`.
    Pure function of (salt, value) -- stable under reruns, re-partitioning,
    and corpus growth; the salt versions the assignment.  DuckDB replay:
    `CAST('0x' || substr(md5('<salt>' || col), 1, 8) AS BIGINT) % <mod>`."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), c)), 1, 8), 16, 10).cast(
            "bigint"
        )
        % mod
    )


_WINNOW_POS_BITS = 20  # positions must fit 20 bits (~1M chars/doc)


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, w: int = 16
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken, the MOSS
    scheme): hash every k-char gram of the normalized text, slide a window
    of w consecutive gram hashes, and select per window the RIGHTMOST
    MINIMAL hash ("robust winnowing").  The winnowing theorem guarantees
    any substring match of length >= w + k - 1 chars between two documents
    shares at least one selected fingerprint, while only ~2/(w+1) of all
    grams are kept -- the position-robust local-fingerprint primitive
    behind plagiarism detection and code-corpus dedup.

    Normalization is q59's canonical form (lower, whitespace collapsed).
    Gram hash = 40-bit conv-md5 (replayable in DuckDB as
    CAST('0x' || substr(md5(gram), 1, 10) AS BIGINT)).  The
    argmin-with-rightmost-tiebreak needs only ONE windowed MIN because
    (hash, position) is packed into a single BIGINT key
    `h << 20 | (2^20 - 1 - pos)`: minimal h wins, ties resolve to the
    LARGEST pos -- no second window pass, and the identical integer
    arithmetic replays in any SQL engine.

    Scale shape: the gram explode multiplies rows by ~n_chars (q183's span
    class -- linear, partition-preserving), the window partitions
    per-document (no skew), and every expression is whole-stage-codegen
    JVM; docs shorter than one full window (< k + w - 1 chars) carry no
    fingerprint.  Returns one row per SELECTED (id, h, pos), positions
    1-based into the normalized text; consumers dedup to (id, h) for
    matching and keep pos for match localization.
    """
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    pos_mask = (1 << _WINNOW_POS_BITS) - 1
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    grams = (
        df.select(F.col(id_col).alias("id"), norm.alias("t"))
        .filter(F.length("t") >= k + w - 1)
        .select(
            "id",
            (F.length("t") - (k - 1)).alias("ng"),
            F.explode(F.sequence(F.lit(1), F.length("t") - (k - 1))).alias("pos"),
            F.col("t"),
        )
        .select(
            "id",
            "ng",
            "pos",
            F.conv(
                F.substring(F.md5(F.expr(f"substring(t, pos, {k})")), 1, 10), 16, 10
            )
            .cast("bigint")
            .alias("h"),
        )
    )
    keyed = grams.select(
        "id",
        "ng",
        "pos",
        (F.shiftleft(F.col("h"), _WINNOW_POS_BITS) + (pos_mask - F.col("pos"))).alias(
            "pk"
        ),
    )
    sel = (
        keyed.withColumn("sk", F.min("pk").over(win))
        .filter(F.col("pos") <= F.col("ng") - (w - 1))
        .select(
            "id",
            F.shiftright(F.col("sk"), _WINNOW_POS_BITS).alias("h"),
            (F.lit(pos_mask) - (F.col("sk").bitwiseAND(F.lit(pos_mask)))).alias("pos"),
        )
        .distinct()
    )
    return sel
