"""Property-based tests (hypothesis) for the composed operators.

The reference ships zero assertions (SURVEY.md section 5.1); beyond the
oracle-checked queries, these pin the operators' *semantics* on adversarial
generated inputs: the as-of join against a pure-Python oracle, LSH candidate
soundness against the exact formulation, and dedup keeper selection.

Example counts are kept small: every example is a Spark job, so the budget
goes to input diversity (ties, duplicates, empty sides) rather than volume.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sparkstreaming_quickstart_spark.operators.asof import asof_join
from sparkstreaming_quickstart_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _t(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, 0) + datetime.timedelta(minutes=minute)


# Small key/time domains force collisions: same-key ties, equal timestamps,
# keys present on only one side.
_probe = st.tuples(st.integers(0, 3), st.integers(0, 30))
_quote = st.tuples(st.integers(0, 3), st.integers(0, 30))


@given(
    probes=st.lists(_probe, min_size=1, max_size=12),
    quotes=st.lists(_quote, min_size=0, max_size=12),
)
@_SETTINGS
def test_asof_join_matches_python_oracle(spark, probes, quotes):
    left = spark.createDataFrame(
        [(i, k, _t(m)) for i, (k, m) in enumerate(probes)], ["event_id", "k", "ts"]
    )
    right = spark.createDataFrame(
        [(100 + j, k, _t(m)) for j, (k, m) in enumerate(quotes)],
        ["quote_id", "k", "qts"],
    ) if quotes else spark.createDataFrame([], "quote_id long, k long, qts timestamp")
    out = asof_join(
        left,
        right.select("k", "qts", "quote_id"),
        on="k",
        left_time="ts",
        right_time="qts",
        value_cols=["quote_id"],
        tiebreak="quote_id",
    )
    got = {r.event_id: r.asof_quote_id for r in out.collect()}
    for i, (k, m) in enumerate(probes):
        # oracle: latest quote at/before the probe; tie -> max quote_id
        eligible = [
            (qm, 100 + j) for j, (qk, qm) in enumerate(quotes) if qk == k and qm <= m
        ]
        want = max(eligible)[1] if eligible else None
        assert got[i] == want, f"probe {i} (k={k}, t={m}): got {got[i]}, want {want}"


_doc = st.lists(st.sampled_from("abcdefgh"), min_size=4, max_size=10).map(" ".join)


@given(texts=st.lists(_doc, min_size=2, max_size=10))
@_SETTINGS
def test_lsh_pairs_are_sound_wrt_exact_jaccard(spark, texts):
    # Every LSH-reported pair must appear in the exact formulation with the
    # same jaccard (candidates are verified exactly; no false positives).
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    exact = {
        (r.d1, r.d2): r.jaccard
        for r in ngram_jaccard_pairs(df, "text", "doc_id", n=2, threshold=0.3).collect()
    }
    lsh = {
        (r.d1, r.d2): r.jaccard
        for r in minhash_lsh_pairs(df, "text", "doc_id", n=2, threshold=0.3).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, j in lsh.items():
        assert abs(j - exact[pair]) < 1e-12


@given(
    texts=st.lists(st.sampled_from(["aa bb", "cc dd", "ee ff"]), min_size=1, max_size=12)
)
@_SETTINGS
def test_exact_dedup_keeps_lowest_id_and_counts(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r.keeper_id: r.n_copies for r in exact_dedup(df, "text", "doc_id").collect()
    }
    want: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        want.setdefault(t, []).append(i)
    assert got == {min(ids): len(ids) for ids in want.values()}


# Avro codec property: arbitrary records over the supported type surface
# roundtrip exactly (pure Python, no Spark job -- examples are cheap).
_avro_schema = {
    "type": "record",
    "name": "prop",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": "long"},
        {"name": "d", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "maybe", "type": ["null", "long"]},
        {"name": "xs", "type": {"type": "array", "items": "long"}},
        {"name": "kv", "type": {"type": "map", "values": "string"}},
    ],
}


@given(
    s=st.text(max_size=40),
    n=st.integers(min_value=-(2**62), max_value=2**62),
    d=st.floats(allow_nan=False, allow_infinity=True),
    flag=st.booleans(),
    maybe=st.one_of(st.none(), st.integers(min_value=-(2**31), max_value=2**31)),
    xs=st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=8),
    kv=st.dictionaries(st.text(max_size=8), st.text(max_size=8), max_size=5),
)
@settings(max_examples=200, deadline=None)
def test_avro_codec_roundtrip_property(s, n, d, flag, maybe, xs, kv):
    from sparkstreaming_quickstart_spark.streaming.avro_wire import decode, encode

    value = {"s": s, "n": n, "d": d, "flag": flag, "maybe": maybe, "xs": xs, "kv": kv}
    out, pos = decode(encode(value, _avro_schema), _avro_schema)
    assert out == value


@given(sid=st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=50, deadline=None)
def test_avro_wire_header_roundtrip_property(sid):
    from sparkstreaming_quickstart_spark.streaming.avro_wire import wire_decode, wire_encode

    schema = {"type": "record", "name": "m", "fields": [{"name": "x", "type": "long"}]}
    got_sid, rec = wire_decode(wire_encode(sid, {"x": 7}, schema), {sid: schema})
    assert got_sid == sid and rec == {"x": 7}


# JVM decode vs the Python reference codec: seeded records under three
# writer schemas (the full record, one that lacks reader fields, a bare
# string) and tombstones, one Spark job per example.  The reader covers
# every column type `reader_struct` maps plus Avro promotions of writer
# ints, longs and floats.
_ENUM = {"type": "enum", "name": "colour", "symbols": ["red", "green", "blue"]}
_WRITER_FULL = {
    "type": "record",
    "name": "w",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "raw", "type": "bytes"},
        {"name": "e", "type": _ENUM},
        {"name": "maybe", "type": ["null", "string"]},
        {"name": "i_as_long", "type": "int"},
        {"name": "i_as_double", "type": "int"},
        {"name": "l_as_float", "type": "long"},
        {"name": "f_as_double", "type": "float"},
        {"name": "dropped", "type": "string"},
    ],
}
_WRITER_OLD = {"type": "record", "name": "w", "fields": [
    f for f in _WRITER_FULL["fields"] if f["name"] in ("b", "i", "e", "i_as_long")]}
_READER = {"type": "record", "name": "w", "fields": [
    *(f for f in _WRITER_FULL["fields"] if f["name"] not in ("i_as_long", "i_as_double", "l_as_float", "f_as_double", "dropped")),
    {"name": "i_as_long", "type": "long"},
    {"name": "i_as_double", "type": "double"},
    {"name": "l_as_float", "type": ["null", "float"]},
    {"name": "f_as_double", "type": "double"},
]}
_WIRE_SCHEMAS = {1: _WRITER_FULL, 2: _WRITER_OLD, 3: "string"}
_int32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)
_float32 = st.floats(width=32, allow_nan=False)
_full_record = st.fixed_dictionaries({
    "b": st.booleans(),
    "i": _int32,
    "l": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    "f": _float32,
    "d": st.floats(allow_nan=False),
    "s": st.text(max_size=12),
    "raw": st.binary(max_size=12),
    "e": st.sampled_from(_ENUM["symbols"]),
    "maybe": st.one_of(st.none(), st.text(max_size=6)),
    "i_as_long": _int32,
    "i_as_double": _int32,
    "l_as_float": st.integers(min_value=-(2**53), max_value=2**53),
    "f_as_double": _float32,
    "dropped": st.text(max_size=4),
})
_wire_message = st.one_of(
    _full_record.map(lambda r: (1, r)),
    _full_record.map(lambda r: (2, {k: r[k] for k in ("b", "i", "e", "i_as_long")})),
    st.text(max_size=8).map(lambda t: (3, t)),
    st.none(),
)


def _reference_row(msg, names, types):
    """`wire_decode` plus projection by name, then the reader column's
    Python value (a float column holds float32 values)."""
    import struct

    from sparkstreaming_quickstart_spark.streaming.avro_wire import wire_decode

    if msg is None:
        return (None,) * (len(names) + 1)
    sid, rec = wire_decode(msg, _WIRE_SCHEMAS)
    row = [sid]
    for name, t in zip(names, types):
        v = rec.get(name) if isinstance(rec, dict) else None
        if v is not None and t == "double":
            v = float(v)
        if v is not None and t == "float":
            v = struct.unpack("<f", struct.pack("<f", v))[0]
        row.append(v)
    return tuple(row)


@given(st.lists(_wire_message, min_size=1, max_size=30))
@_SETTINGS
def test_jvm_decode_matches_python_reference(spark, msgs):
    from sparkstreaming_quickstart_spark.streaming.avro_wire import (
        decode_confluent_avro,
        reader_struct,
        wire_encode,
    )

    values = [None if m is None else wire_encode(m[0], m[1], _WIRE_SCHEMAS[m[0]]) for m in msgs]
    reader = reader_struct(_READER)
    df = spark.createDataFrame(list(enumerate(values)), "k int, value binary")
    got = {
        r.k: tuple(bytes(v) if isinstance(v, bytearray) else v for v in r[1:])
        for r in decode_confluent_avro(df, reader, _WIRE_SCHEMAS).collect()
    }
    names = reader.fieldNames()
    types = [f.dataType.typeName() for f in reader.fields]
    assert got == {k: _reference_row(v, names, types) for k, v in enumerate(values)}


# Word-salad docs over a tiny vocabulary force heavy shingle collisions --
# the adversarial case for the prefix filter's losslessness claim.
_doc_words = st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=3, max_size=12)


@given(docs=st.lists(_doc_words, min_size=2, max_size=8))
@_SETTINGS
def test_containment_prefix_filter_is_lossless(spark, docs):
    """containment_pairs (prefix-filtered candidates) must equal the brute
    force over every pair -- the PPJoin pigeonhole argument, checked on
    random corpora instead of trusting the fixture."""
    from sparkstreaming_quickstart_spark.queries.wave7 import containment_pairs

    texts = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    d = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.id1, r.id2): r.containment
        for r in containment_pairs(d, 0.8).collect()
    }

    def shingles(ws):
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    want = {}
    for i, wi in enumerate(docs):
        for j in range(i + 1, len(docs)):
            si, sj = shingles(wi), shingles(docs[j])
            c = round(len(si & sj) / min(len(si), len(sj)), 9)
            if c >= 0.8:
                want[(i, j)] = c
    assert got == want


@given(
    probes=st.lists(_probe, min_size=1, max_size=12),
    quotes=st.lists(_quote, min_size=0, max_size=12),
    tol_minutes=st.integers(1, 15),
)
@_SETTINGS
def test_asof_join_tolerance_matches_python_oracle(spark, probes, quotes, tol_minutes):
    """asof_join(tolerance=...) must equal the python oracle restricted to
    quotes within [t - tol, t] -- including the boundary (a quote exactly
    tol old is still fresh) and the fall-to-None when only stale quotes
    exist."""
    left = spark.createDataFrame(
        [(i, k, _t(m)) for i, (k, m) in enumerate(probes)], ["event_id", "k", "ts"]
    )
    right = spark.createDataFrame(
        [(100 + j, k, _t(m)) for j, (k, m) in enumerate(quotes)],
        ["quote_id", "k", "qts"],
    ) if quotes else spark.createDataFrame([], "quote_id long, k long, qts timestamp")
    out = asof_join(
        left,
        right.select("k", "qts", "quote_id"),
        on="k",
        left_time="ts",
        right_time="qts",
        value_cols=["quote_id"],
        tiebreak="quote_id",
        tolerance=f"{tol_minutes} minutes",
    )
    got = {r.event_id: r.asof_quote_id for r in out.collect()}
    for i, (k, m) in enumerate(probes):
        eligible = [
            (qm, 100 + j)
            for j, (qk, qm) in enumerate(quotes)
            if qk == k and qm <= m and qm >= m - tol_minutes
        ]
        want = max(eligible)[1] if eligible else None
        assert got[i] == want, f"probe {i} (k={k}, t={m}, tol={tol_minutes}): got {got[i]}, want {want}"
