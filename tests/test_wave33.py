"""Wave-33 reference tests: independent scalar/numpy replays of q353-q359.

The Spark-vs-DuckDB value equality is proven by the oracles at three scale
factors; these tests prove the SHARED SPELLING implements the intended
algorithm (classic PAV pooling, CEM weighting, orthogonal Procrustes, KMV
estimator + merge law, Theil-Sen medians, CUPED algebra, the ARI formula)
against independent implementations."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest


def _pav_pool(ns, ss):
    """Classic pool-adjacent-violators: merge adjacent blocks while their
    rates decrease, then expand each pooled block's rate back over the
    input bins it absorbed."""
    stack: list[list[float]] = []
    for n, s in zip(ns, ss):
        stack.append([n, s])
        while len(stack) >= 2 and (
            stack[-2][1] / stack[-2][0] >= stack[-1][1] / stack[-1][0]
        ):
            n2, s2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += s2
    expanded = []
    i = 0
    for n, s in stack:
        acc = 0
        while acc < n:
            acc += ns[i]
            expanded.append(s / n)
            i += 1
    return expanded


def test_isotonic_matches_classic_pav(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave33 import (
        q353_isotonic_calibration,
    )

    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    band = np.minimum(np.floor(e["value"].to_numpy() / 25.0).astype(np.int64), 19)
    y = (e["event_type"] == "purchase").astype(np.int64).to_numpy()
    df = pd.DataFrame({"band": band, "y": y}).groupby("band")["y"].agg(["count", "sum"])
    fitted = _pav_pool(df["count"].tolist(), df["sum"].tolist())
    rows = q353_isotonic_calibration(spark, sf_dir).collect()
    assert [r["band"] for r in rows] == df.index.tolist()
    got = [r["fitted_rate"] for r in rows]
    assert got == pytest.approx([round(f, 6) for f in fitted], abs=2e-6)
    # fit is monotone non-decreasing and total-preserving on pooled blocks
    assert got == sorted(got)


def test_cem_att_matches_pandas(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave33 import q354_cem_att

    e = pd.read_parquet(f"{sf_dir}/events.parquet").copy()
    e["cents"] = np.round(e["value"].to_numpy() * 100).astype(np.int64)
    e["ycents"] = np.where(e["event_type"] == "purchase", e["cents"], 0)
    first = e.sort_values("ts").groupby("user_id")["event_type"].first()
    g = e.groupby("user_id").agg(
        n=("event_id", "count"), cents=("cents", "sum"), y=("ycents", "sum")
    )
    g["treated"] = (first.reindex(g.index) == "error").astype(int)
    g["act"] = np.minimum(g["n"] // 25, 3)
    g["val"] = np.minimum(g["cents"] // (g["n"] * 2500), 3)
    strata = g.groupby(["act", "val"]).apply(
        lambda s: pd.Series(
            {
                "n_t": int(s["treated"].sum()),
                "n_c": int(len(s) - s["treated"].sum()),
                "mt": s.loc[s["treated"] == 1, "y"].sum()
                / max(int(s["treated"].sum()), 1),
                "mc": s.loc[s["treated"] == 0, "y"].sum()
                / max(int(len(s) - s["treated"].sum()), 1),
            }
        ),
        include_groups=False,
    )
    m = strata[(strata["n_t"] > 0) & (strata["n_c"] > 0)]
    att = (m["n_t"] * (m["mt"] - m["mc"])).sum() / m["n_t"].sum()
    rows = q354_cem_att(spark, sf_dir).collect()
    assert len(rows) == len(m)
    assert rows[0]["att_cents"] == pytest.approx(att, abs=2e-4)
    for r in rows:
        ref = m.loc[(r["act_band"], r["val_band"])]
        assert r["n_treated"] == ref["n_t"] and r["n_control"] == ref["n_c"]
        assert r["stratum_diff_cents"] == pytest.approx(
            ref["mt"] - ref["mc"], abs=2e-4
        )


def test_procrustes_invariants_and_rotation(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave33 import (
        procrustes_rotation,
        q355_procrustes_alignment,
    )

    e = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    ids = e["vec_id"].to_numpy()
    ev = {i // 2: V[k] for k, i in enumerate(ids) if i % 2 == 0}
    od = {i // 2: V[k] for k, i in enumerate(ids) if i % 2 == 1}
    keys = sorted(set(ev) & set(od))
    X = np.stack([ev[k] for k in keys])
    Y = np.stack([od[k] for k in keys])
    M = X.T @ Y
    sv = np.linalg.svd(M, compute_uv=False)
    r = q355_procrustes_alignment(spark, sf_dir).collect()[0]
    assert r["n_pairs"] == len(keys)
    assert r["sv_sq_sum"] == pytest.approx(float((sv**2).sum()), abs=2e-5)
    assert r["sv_quad_sum"] == pytest.approx(float((sv**4).sum()), abs=2e-5)
    # the user-facing rotation: orthogonal, and satisfies the Procrustes
    # residual identity ||XW - Y||^2 = ||X||^2 + ||Y||^2 - 2*sum(sigma)
    W = procrustes_rotation(spark, sf_dir)
    assert np.abs(W @ W.T - np.eye(64)).max() < 1e-9
    resid = ((X @ W - Y) ** 2).sum()
    ident = (X**2).sum() + (Y**2).sum() - 2 * sv.sum()
    assert resid == pytest.approx(ident, rel=1e-9)
    # W is the argmin over a probe set of random rotations
    rng = np.random.default_rng(5)
    for _ in range(3):
        Q = np.linalg.qr(rng.normal(size=(64, 64)))[0]
        assert ((X @ Q - Y) ** 2).sum() >= resid - 1e-9


def test_kmv_estimator_and_merge_law(spark, sf_dir):
    import hashlib

    from sparkstreaming_quickstart_spark.queries.wave33 import (
        _KMV_K,
        _KMV_SALT,
        _KMV_SCALE,
        q356_kmv_distinct,
    )

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")

    def shingles(text):
        toks = text.split(" ")
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    per_source: dict[str, set] = {}
    for _, row in d[d["text"].str.len() > 0].iterrows():
        per_source.setdefault(row["source"], set()).update(shingles(row["text"]))

    def u_of(s):
        return int(hashlib.md5((_KMV_SALT + s).encode()).hexdigest()[:15], 16) / _KMV_SCALE

    rows = {r["source"]: r for r in q356_kmv_distinct(spark, sf_dir).collect()}
    sketches = {}
    for src, vocab in per_source.items():
        us = sorted(u_of(s) for s in vocab)
        sketches[src] = us[:_KMV_K]
        est = len(us) if len(us) < _KMV_K else (_KMV_K - 1) / us[_KMV_K - 1]
        assert rows[src]["n_exact"] == len(vocab)
        assert rows[src]["kmv_estimate"] == pytest.approx(est, abs=2e-6)
        # KMV is within ~3/sqrt(k) relative error w.h.p. -- sanity band
        assert abs(est - len(vocab)) / len(vocab) < 3 / math.sqrt(_KMV_K) + 0.05
    # merge law: bottom-k of the union of sketches == bottom-k of the union
    merged = sorted(set().union(*[set(s) for s in sketches.values()]))[:_KMV_K]
    full_union = set().union(*per_source.values())
    direct = sorted(u_of(s) for s in full_union)[:_KMV_K]
    assert merged == direct
    est_u = (_KMV_K - 1) / merged[_KMV_K - 1]
    assert rows["__union__"]["n_exact"] == len(full_union)
    assert rows["__union__"]["kmv_estimate"] == pytest.approx(est_u, abs=2e-6)


def test_theil_sen_matches_reference(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave33 import q357_theil_sen

    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    day = (e["ts"].dt.floor("D") - pd.Timestamp("2024-01-01")).dt.days.to_numpy()
    cents = np.round(e["value"].to_numpy() * 100).astype(np.int64)
    daily = pd.DataFrame({"d": day, "y": cents}).groupby("d")["y"].sum()
    ds, ys = daily.index.to_numpy(), daily.to_numpy()
    slopes = sorted(
        (ys[j] - ys[i]) / (ds[j] - ds[i])
        for i in range(len(ds))
        for j in range(i + 1, len(ds))
    )
    n = len(slopes)
    slope = (slopes[(n - 1) // 2] + slopes[n // 2]) / 2
    resid = sorted(ys - slope * ds)
    m = len(resid)
    intercept = (resid[(m - 1) // 2] + resid[m // 2]) / 2
    r = q357_theil_sen(spark, sf_dir).collect()[0]
    assert r["n_days"] == len(ds) and r["n_pairs"] == n
    assert r["sen_slope_cents_per_day"] == pytest.approx(slope, abs=2e-4)
    assert r["sen_intercept_cents"] == pytest.approx(intercept, abs=2e-4)


def test_cuped_matches_numpy(spark, sf_dir):
    import hashlib

    from sparkstreaming_quickstart_spark.queries.wave33 import q358_cuped

    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    cents = np.round(e["value"].to_numpy() * 100).astype(np.int64)
    pre = e["ts"].dt.floor("D") < pd.Timestamp("2024-01-16")
    df = pd.DataFrame(
        {
            "uid": e["user_id"],
            "x": np.where(pre, cents, 0),
            "y": np.where(~pre, cents, 0),
        }
    ).groupby("uid")[["x", "y"]].sum()
    arm = df.index.map(
        lambda u: int(hashlib.md5(f"cuped42|{u}".encode()).hexdigest()[:8], 16) % 2
    )
    x, y = df["x"].to_numpy(float), df["y"].to_numpy(float)
    theta = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    raw = y[arm == 1].mean() - y[arm == 0].mean()
    adj = raw - theta * (x[arm == 1].mean() - x[arm == 0].mean())
    rho2 = np.cov(x, y, bias=True)[0, 1] ** 2 / (np.var(x) * np.var(y))
    r = q358_cuped(spark, sf_dir).collect()[0]
    assert r["n_users"] == len(df)
    assert r["theta"] == pytest.approx(theta, abs=2e-5)
    assert r["uplift_raw_cents"] == pytest.approx(raw, abs=2e-3)
    assert r["uplift_cuped_cents"] == pytest.approx(adj, abs=2e-3)
    assert r["var_ratio"] == pytest.approx(1 - rho2, abs=2e-5)


def test_adjusted_rand_matches_union_find(spark, sf_dir):
    from sparkstreaming_quickstart_spark.operators.dedup import minhash_lsh_pairs
    from sparkstreaming_quickstart_spark.queries.wave33 import q359_adjusted_rand
    from sparkstreaming_quickstart_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    prs = minhash_lsh_pairs(d, "text", "doc_id", n=3, threshold=0.7).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    parent: dict[int, int] = {int(i): int(i) for i in docs["doc_id"]}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for p in prs:
        ra, rb = find(int(p["d1"])), find(int(p["d2"]))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    cl = np.array([find(int(i)) for i in docs["doc_id"]])
    lang = docs["lang"].to_numpy()
    ct = pd.crosstab(cl, lang).to_numpy()

    def c2(v):
        return (v * (v - 1) // 2).sum()

    idx = c2(ct.ravel().astype(np.int64))
    ea = c2(ct.sum(axis=1).astype(np.int64))
    eb = c2(ct.sum(axis=0).astype(np.int64))
    n = int(ct.sum())
    c2n = n * (n - 1) // 2
    expv = ea * eb / c2n
    ari = (idx - expv) / ((ea + eb) / 2 - expv)
    r = q359_adjusted_rand(spark, sf_dir).collect()[0]
    assert r["n_docs"] == n
    assert r["pair_agreements"] == idx
    assert r["adjusted_rand"] == pytest.approx(ari, abs=2e-6)


# ---------------------------------------------------------------------------
# wave 34 (q360-q362)
# ---------------------------------------------------------------------------


def test_sprt_matches_scalar_reference(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave34 import (
        _SPRT_A,
        _SPRT_B,
        _SPRT_L0,
        _SPRT_L1,
        q360_sprt_conversion,
    )

    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    day = (e["ts"].dt.floor("D") - pd.Timestamp("2024-01-01")).dt.days
    df = pd.DataFrame(
        {"day": day, "y": (e["event_type"] == "purchase").astype(int)}
    ).groupby("day")["y"].agg(["count", "sum"])
    rows = q360_sprt_conversion(spark, sf_dir).collect()
    assert [r["day"] for r in rows] == df.index.tolist()
    cum = 0.0
    for r, (_, b) in zip(rows, df.iterrows()):
        ld = b["sum"] * _SPRT_L1 + (b["count"] - b["sum"]) * _SPRT_L0
        cum += ld
        assert r["n"] == b["count"] and r["conversions"] == b["sum"]
        assert r["llr_day"] == pytest.approx(ld, abs=2e-6)
        assert r["llr_cum"] == pytest.approx(cum, abs=2e-6)
        want = (
            "accept_h1"
            if round(cum, 9) >= _SPRT_A
            else "accept_h0"
            if round(cum, 9) <= _SPRT_B
            else "continue"
        )
        assert r["decision"] == want
    # boundaries are the classic Wald approximations
    assert _SPRT_A == pytest.approx(math.log(0.95 / 0.05))
    assert _SPRT_B == pytest.approx(math.log(0.05 / 0.95))


def test_brier_decomposition_identity(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave34 import (
        q361_brier_decomposition,
    )

    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    band = np.minimum(np.floor(e["value"].to_numpy() / 25.0).astype(np.int64), 19)
    o = (e["event_type"] == "purchase").astype(float).to_numpy()
    f = (band + 0.5) / 20.0
    brier = float(((f - o) ** 2).mean())
    df = pd.DataFrame({"band": band, "o": o}).groupby("band")["o"].agg(
        ["count", "mean"]
    )
    fk = (df.index.to_numpy() + 0.5) / 20.0
    n = len(o)
    rel = float((df["count"].to_numpy() * (fk - df["mean"].to_numpy()) ** 2).sum() / n)
    res = float(
        (df["count"].to_numpy() * (df["mean"].to_numpy() - o.mean()) ** 2).sum() / n
    )
    unc = float(o.mean() * (1 - o.mean()))
    r = q361_brier_decomposition(spark, sf_dir).collect()[0]
    assert r["n"] == n
    assert r["brier"] == pytest.approx(brier, abs=2e-6)
    assert r["reliability"] == pytest.approx(rel, abs=2e-6)
    assert r["resolution"] == pytest.approx(res, abs=2e-6)
    assert r["uncertainty"] == pytest.approx(unc, abs=2e-6)
    # Murphy identity BS = REL - RES + UNC (to rounding)
    assert r["brier"] == pytest.approx(
        r["reliability"] - r["resolution"] + r["uncertainty"], abs=5e-6
    )


def test_qte_matches_numpy_disc_quantiles(spark, sf_dir):
    import hashlib

    from sparkstreaming_quickstart_spark.queries.wave34 import (
        q362_quantile_treatment_effects,
    )

    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    cents = np.round(e["value"].to_numpy() * 100).astype(np.int64)
    df = pd.DataFrame({"uid": e["user_id"], "c": cents}).groupby("uid")["c"].sum()
    arm = df.index.map(
        lambda u: int(hashlib.md5(f"cuped42|{u}".encode()).hexdigest()[:8], 16) % 2
    )

    def disc(vals, q):
        s = sorted(vals)
        return s[max(0, math.ceil(q * len(s)) - 1)]

    c0 = df[arm == 0].tolist()
    c1 = df[arm == 1].tolist()
    rows = q362_quantile_treatment_effects(spark, sf_dir).collect()
    assert [r["decile"] for r in rows] == list(range(1, 10))
    for r in rows:
        q = r["decile"] / 10.0
        assert r["q_control_cents"] == disc(c0, q)
        assert r["q_treat_cents"] == disc(c1, q)
        assert r["qte_cents"] == disc(c1, q) - disc(c0, q)


# ---------------------------------------------------------------------------
# wave 35 (q363-q365)
# ---------------------------------------------------------------------------


def test_linear_cka_matches_numpy(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave35 import q363_linear_cka

    e = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    V = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    ids = e["vec_id"].to_numpy()
    ev = {i // 2: V[k] for k, i in enumerate(ids) if i % 2 == 0}
    od = {i // 2: V[k] for k, i in enumerate(ids) if i % 2 == 1}
    keys = sorted(set(ev) & set(od))
    X = np.stack([ev[k] for k in keys])
    Y = np.stack([od[k] for k in keys])
    Xc, Yc = X - X.mean(axis=0), Y - Y.mean(axis=0)
    hsic = float(((Xc.T @ Yc) ** 2).sum())
    nx = float(np.linalg.norm(Xc.T @ Xc))
    ny = float(np.linalg.norm(Yc.T @ Yc))
    r = q363_linear_cka(spark, sf_dir).collect()[0]
    assert r["n_pairs"] == len(keys)
    assert r["hsic_xy"] == pytest.approx(hsic, abs=2e-5)
    assert r["norm_x"] == pytest.approx(nx, abs=2e-5)
    assert r["norm_y"] == pytest.approx(ny, abs=2e-5)
    assert r["linear_cka"] == pytest.approx(hsic / (nx * ny), abs=2e-6)
    assert 0.0 <= r["linear_cka"] <= 1.0
    # CKA of a space with itself is exactly 1 -- sanity-pin the formula
    self_hsic = float(((Xc.T @ Xc) ** 2).sum())
    assert self_hsic / (nx * nx) == pytest.approx(1.0, abs=1e-12)


def test_ledoit_wolf_matches_numpy(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave35 import q364_ledoit_wolf

    e = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    X = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    n, d = X.shape
    Xc = X - X.mean(axis=0)
    S = (Xc.T @ Xc) / n
    mu = float(np.trace(S)) / d
    d2 = float(((S - mu * np.eye(d)) ** 2).sum())
    sum4 = float(((Xc**2).sum(axis=1) ** 2).sum())
    b2_raw = (sum4 / n - float((S**2).sum())) / n
    beta = min(b2_raw, d2)
    r = q364_ledoit_wolf(spark, sf_dir).collect()[0]
    assert (r["n_vectors"], r["n_dims"]) == (n, d)
    assert r["mu_hat"] == pytest.approx(mu, abs=2e-6)
    assert r["dispersion_sq"] == pytest.approx(d2, abs=2e-6)
    assert r["beta_sq"] == pytest.approx(beta, abs=2e-9)
    assert r["shrinkage_lambda"] == pytest.approx(beta / d2, abs=2e-6)
    assert 0.0 <= r["shrinkage_lambda"] <= 1.0


def test_pps_systematic_inclusion_properties(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave35 import (
        _PPS_K,
        q365_pps_systematic,
    )

    d = pd.read_parquet(f"{sf_dir}/documents.parquet").sort_values("doc_id")
    w = d["n_chars"].to_numpy(np.int64)
    cum = w.cumsum()
    step = float(cum[-1]) / _PPS_K
    # scalar replay of the interval-hit arithmetic
    hi = np.floor((cum - 0.5 * step) / step).astype(np.int64)
    lo = np.floor((cum - w - 0.5 * step) / step).astype(np.int64)
    hits = hi - lo
    sel = {
        int(i): int(h)
        for i, h in zip(d["doc_id"].to_numpy(), hits)
        if h > 0
    }
    rows = q365_pps_systematic(spark, sf_dir).collect()
    got = {r["doc_id"]: r["n_hits"] for r in rows}
    assert got == sel
    # exactly K selection points land somewhere
    assert sum(got.values()) == _PPS_K
    # distributed two-phase cumsum equals the sequential one
    for r in rows:
        assert r["cum_weight"] == int(cum[d["doc_id"].to_numpy() == r["doc_id"]][0])


def test_linear_mmd_matches_numpy(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave35 import (
        _MMD_GAMMA,
        q366_linear_mmd,
    )

    e = pd.read_parquet(f"{sf_dir}/embeddings.parquet").sort_values("vec_id")
    A = np.stack(e[e["label"] == 0]["embedding"].to_numpy()).astype(np.float64)
    B = np.stack(e[e["label"] == 1]["embedding"].to_numpy()).astype(np.float64)
    m = min(len(A) // 2, len(B) // 2)

    def k(a, b):
        return math.exp(-_MMD_GAMMA * float(((a - b) ** 2).sum()))

    hs = [
        k(A[2 * g], A[2 * g + 1])
        + k(B[2 * g], B[2 * g + 1])
        - k(A[2 * g], B[2 * g + 1])
        - k(A[2 * g + 1], B[2 * g])
        for g in range(m)
    ]
    r = q366_linear_mmd(spark, sf_dir).collect()[0]
    assert r["n_quads"] == m
    assert r["mmd2_linear"] == pytest.approx(float(np.mean(hs)), abs=2e-9)
    assert r["se"] == pytest.approx(
        float(np.std(hs, ddof=1) / math.sqrt(m)), abs=2e-9
    )
    # same-distribution sanity: MMD^2 between a space and itself is ~0
    hs_same = [
        k(A[2 * g], A[2 * g + 1])
        + k(A[2 * g], A[2 * g + 1])
        - 2 * k(A[2 * g], A[2 * g + 1])
        for g in range(m)
    ]
    assert abs(float(np.mean(hs_same))) < 1e-15


def test_stream_kmv_multibatch_equals_batch_and_hashlib(spark, sf_dir, tmp_path):
    """q367: the bottom-k SET state must equal the batch sketch under a
    forced 3-micro-batch replay (set union is associative/commutative/
    idempotent -- the property the full value oracle rides on), and the
    normalized hashes must replay through hashlib."""
    import hashlib

    from pyspark.sql import functions as SF
    from pyspark.sql.streaming.state import GroupStateTimeout

    from sparkstreaming_quickstart_spark.queries.wave35 import (
        _SKMV_K,
        _SKMV_SALT,
        _SKMV_SCALE,
        _skmv_schemas,
        _skmv_update,
        q367_stream_kmv_distinct,
    )
    from sparkstreaming_quickstart_spark.sources.catalog import load_table
    from sparkstreaming_quickstart_spark.streaming.pipeline import run_to_memory

    splitdir = str(tmp_path)
    src = load_table(spark, sf_dir, "events")
    src.repartition(3).write.mode("overwrite").parquet(splitdir)

    out_schema, state_schema = _skmv_schemas()
    h = SF.conv(
        SF.substring(
            SF.md5(SF.concat(SF.lit(_SKMV_SALT), SF.col("user_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(splitdir)
        .select("event_type", (h.cast("double") / SF.lit(_SKMV_SCALE)).alias("u"))
    )
    res = stream.groupBy("event_type").applyInPandasWithState(
        _skmv_update(_SKMV_K),
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    table = run_to_memory(res, output_mode="update")
    raw = spark.table(table).toPandas()
    # interim emissions prove the replay really split into micro-batches
    assert len(raw) > raw["event_type"].nunique()
    final = raw.loc[raw.groupby("event_type")["n_events"].idxmax()]
    # hashlib batch replay
    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    for _, r in final.iterrows():
        users = e[e["event_type"] == r["event_type"]]["user_id"].unique()
        us = sorted(
            int(hashlib.md5(f"{_SKMV_SALT}{u}".encode()).hexdigest()[:15], 16)
            / _SKMV_SCALE
            for u in users
        )
        sk = us[:_SKMV_K]
        assert r["sketch_size"] == len(sk)
        if len(sk) == _SKMV_K:
            assert r["kth_u"] == pytest.approx(sk[-1], rel=1e-15)
        assert r["n_events"] == (e["event_type"] == r["event_type"]).sum()
    # and the registered query's estimate matches the same replay
    rows = {r["event_type"]: r for r in q367_stream_kmv_distinct(spark, sf_dir).collect()}
    for et, r in rows.items():
        users = e[e["event_type"] == et]["user_id"].unique()
        us = sorted(
            int(hashlib.md5(f"{_SKMV_SALT}{u}".encode()).hexdigest()[:15], 16)
            / _SKMV_SCALE
            for u in users
        )
        want = (
            float(len(us))
            if len(us) < _SKMV_K
            else (_SKMV_K - 1) / us[_SKMV_K - 1]
        )
        assert r["distinct_users_est"] == pytest.approx(round(want, 6), abs=2e-6)


# ---------------------------------------------------------------------------
# wave 36 (q368-q369)
# ---------------------------------------------------------------------------


def test_friedman_matches_scalar_reference(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave36 import q368_friedman_test

    e = pd.read_parquet(f"{sf_dir}/events.parquet")
    day = (e["ts"].dt.floor("D") - pd.Timestamp("2024-01-01")).dt.days
    cents = np.round(e["value"].to_numpy() * 100).astype(np.int64)
    df = pd.DataFrame({"day": day, "t": e["event_type"], "c": cents}).groupby(
        ["day", "t"]
    )["c"].sum().reset_index()
    # average ranks within each day block (pandas 'average' method)
    df["rank"] = df.groupby("day")["c"].rank(method="average")
    sums = df.groupby("t")["rank"].sum()
    n = df["day"].nunique()
    k = df["t"].nunique()
    chi2 = 12.0 / (n * k * (k + 1)) * float((sums**2).sum()) - 3.0 * n * (k + 1)
    r = q368_friedman_test(spark, sf_dir).collect()[0]
    assert r["n_blocks"] == n and r["k_treatments"] == k
    assert r["friedman_chi2"] == pytest.approx(chi2, abs=2e-5)


def test_kneser_ney_matches_scalar_reference(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave36 import (
        _KN_D,
        _KN_FLOOR,
        q369_kneser_ney_ppl,
    )

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    d = d[d["text"].str.len() > 0]

    def bigrams(text):
        t = text.split(" ")
        return [(t[i], t[i + 1]) for i in range(len(t) - 1)]

    from collections import Counter, defaultdict

    bgc: Counter = Counter()
    for _, row in d[d["doc_id"] % 2 == 0].iterrows():
        bgc.update(bigrams(row["text"]))
    c1: Counter = Counter()
    fwd = defaultdict(set)
    bwd = defaultdict(set)
    for (w1, w2), c in bgc.items():
        c1[w1] += c
        fwd[w1].add(w2)
        bwd[w2].add(w1)
    nt = len(bgc)

    def p_kn(w1, w2):
        pc = len(bwd.get(w2, ())) / nt
        if c1.get(w1, 0) > 0:
            p = max(bgc.get((w1, w2), 0) - _KN_D, 0.0) / c1[w1] + _KN_D * len(
                fwd[w1]
            ) / c1[w1] * pc
        else:
            p = pc
        return max(p, _KN_FLOOR)

    per_source = defaultdict(list)
    for _, row in d[d["doc_id"] % 2 == 1].iterrows():
        for w1, w2 in bigrams(row["text"]):
            per_source[row["source"]].append(math.log(p_kn(w1, w2)))
    rows = {r["source"]: r for r in q369_kneser_ney_ppl(spark, sf_dir).collect()}
    assert set(rows) == set(per_source)
    for src, lps in per_source.items():
        r = rows[src]
        assert r["n_eval_bigrams"] == len(lps)
        avg = float(np.mean(lps))
        assert r["avg_logprob"] == pytest.approx(avg, abs=2e-6)
        assert r["perplexity"] == pytest.approx(math.exp(-avg), abs=2e-3)
    # KN probabilities over the closed train vocab sum to ~1 per context
    some_w1 = next(iter(c1))
    vocab = set(c1) | set(bwd)
    assert sum(p_kn(some_w1, w) for w in vocab) == pytest.approx(1.0, abs=0.02)


# ---------------------------------------------------------------------------
# wave 37 (q370-q371)
# ---------------------------------------------------------------------------


def test_mcnemar_matches_scalar_reference(spark, sf_dir):
    from sparkstreaming_quickstart_spark.queries.wave36 import (
        _MCN_CHARS,
        _MCN_TOKENS,
        q370_mcnemar_test,
    )

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    d = d[d["text"].str.len() > 0]
    a = (d["n_chars"] >= _MCN_CHARS).to_numpy()
    b = (d["text"].str.split(" ").str.len() >= _MCN_TOKENS).to_numpy()
    bp = int((a & b).sum())
    oc = int((a & ~b).sum())
    ot = int((~a & b).sum())
    bf = int((~a & ~b).sum())
    chi2 = (abs(oc - ot) - 1) ** 2 / (oc + ot) if oc + ot > 0 else 0.0
    r = q370_mcnemar_test(spark, sf_dir).collect()[0]
    assert (r["both_pass"], r["only_chars"], r["only_tokens"], r["both_fail"]) == (
        bp, oc, ot, bf,
    )
    assert r["mcnemar_chi2"] == pytest.approx(chi2, abs=2e-6)


def test_token_gini_matches_rank_reference(spark, sf_dir):
    from collections import Counter

    from sparkstreaming_quickstart_spark.queries.wave36 import q371_token_gini

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    cnt = Counter()
    for t in d[d["text"].str.len() > 0]["text"]:
        cnt.update(t.split(" "))
    cs = sorted(cnt.values())
    v, total = len(cs), sum(cs)
    # average-rank tie handling: rank of each token = mean rank of its tie
    # group (scipy-free replay)
    ranks = {}
    i = 0
    while i < len(cs):
        j = i
        while j < len(cs) and cs[j] == cs[i]:
            j += 1
        avg = (i + 1 + j) / 2.0
        ranks[cs[i]] = avg
        i = j
    s_rank = sum(ranks[c] * c for c in cs)
    gini = 2.0 * s_rank / (v * total) - (v + 1.0) / v
    r = q371_token_gini(spark, sf_dir).collect()[0]
    assert (r["vocab_size"], r["n_tokens"]) == (v, total)
    assert r["token_gini"] == pytest.approx(gini, abs=2e-6)
