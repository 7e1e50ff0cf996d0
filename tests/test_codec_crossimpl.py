"""Cross-implementation spec parity: our codec's buffers must be
readable by pyspark's own pure-Python Open Variant reader
(pyspark.sql.types.VariantVal — same Apache spec the reference
implements), and roundtrips must hold under randomized inputs."""

from __future__ import annotations

import json
import math
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datafusion_functions_variant_spark import codec

try:
    from pyspark.sql.types import VariantVal

    HAVE_VARIANTVAL = True
except ImportError:  # pragma: no cover
    HAVE_VARIANTVAL = False


def _codec_encode(obj) -> tuple[bytes, bytes | None]:
    """The shipped encoder on one row: (its metadata, its value)."""
    (meta,), (val,) = codec.encode_batch([obj])
    return meta, val


FIXTURES = [
    None,
    True,
    False,
    0,
    -1,
    2**62,
    -(2**62),
    3.5,
    -0.125,
    "",
    "hello",
    "ünïcode ✓",
    [],
    [1, 2, 3],
    [1, "two", 3.0, None, True],
    {},
    {"a": 1},
    {"k1": 1, "k2": 2},
    {"b": [True, None, "x"], "a": {"nested": {"deep": [1.5]}}},
    {"key with spaces": "v", "": "empty-key"},
]


#: the fixtures that have a value: a top-level None is the SQL NULL slot
ROW_FIXTURES = [o for o in FIXTURES if o is not None]


def _norm(x):
    """JSON-comparable form (ints vs floats, -0.0, etc.)."""
    if isinstance(x, float) and x.is_integer() and not math.isinf(x):
        return x  # keep float identity; compare via json round
    return x


def test_variantval_reads_our_buffers():
    if not HAVE_VARIANTVAL:
        return
    # a top-level null is the SQL NULL slot: no value, empty dictionary
    assert _codec_encode(None) == (codec.EMPTY_METADATA, None)
    for obj in ROW_FIXTURES:
        meta, val = _codec_encode(obj)
        got = json.loads(VariantVal(val, meta).toJson())
        assert got == json.loads(json.dumps(obj)), f"mismatch for {obj!r}"


def test_variantval_agrees_with_our_reader():
    if not HAVE_VARIANTVAL:
        return
    for obj in ROW_FIXTURES:
        meta, val = _codec_encode(obj)
        ours = json.loads(codec.to_json_str(val, meta))
        theirs = json.loads(VariantVal(val, meta).toJson())
        assert ours == theirs, f"reader divergence for {obj!r}"


def test_our_reader_reads_spark_native_bytes(spark):
    """Reverse direction: buffers produced by Spark's native parse_json
    (JVM writer) must decode through our codec."""
    samples = [json.dumps(o) for o in FIXTURES if o is not None]
    df = spark.createDataFrame([(s,) for s in samples], ["j"])
    from pyspark.sql import functions as F

    rows = df.select(F.parse_json("j").alias("v")).collect()
    for s, r in zip(samples, rows):
        v = r["v"]  # VariantVal with .value / .metadata bytes
        got = json.loads(codec.to_json_str(bytes(v.value), bytes(v.metadata)))
        assert got == json.loads(s), f"codec failed on native bytes for {s}"


def test_our_reader_reads_spark_native_wide_offsets(spark):
    """Spark's writer gives a size from 2**16 to 2**24 - 1 a 3-byte
    width, which ours never emits: an object and an array whose data
    area passes 64 KiB, and a dictionary whose strings do, must decode
    through our codec all the same."""
    from pyspark.sql import functions as F

    big = "x" * 70_000
    samples = [
        {"big": big, "n": 1, "tail": [True, None]},
        [big, 2, {"k": "v"}],
        # Jackson caps one name at 50 000 chars: many keys pass 64 KiB
        {f"key{i:05d}" + "y" * 40: i for i in range(1_700)},
    ]
    df = spark.createDataFrame([(json.dumps(o),) for o in samples], ["j"])
    rows = df.select(F.parse_json("j").alias("v")).collect()
    for obj, r in zip(samples, rows):
        value, meta = bytes(r["v"].value), bytes(r["v"].metadata)
        # the case under test: an offset width of 3, in the value's
        # header or the dictionary's
        assert (value[0] >> 2) & 0x03 == 2 or (meta[0] >> 6) & 0x03 == 2
        assert json.loads(codec.to_json_str(value, meta)) == obj
        assert codec.BatchDecoder().to_python(value, meta) == obj


def test_path_extraction_reads_spark_native_unsorted_dictionary(spark):
    """Spark's writer lists dictionary keys in first-seen order and
    leaves the sorted bit clear, while an object lists its fields by
    key name; field lookup must not assume id order."""
    from pyspark.sql import functions as F

    paths = {"b": ("$.b", "bigint"), "a1": ("$.a[1]", "bigint"), "c": ("$.c", "string")}
    df = spark.range(1).select(F.parse_json(F.lit('{"b": 1, "a": [2, 3], "c": "x"}')).alias("v"))
    row = df.select(
        "v", *[F.variant_get("v", p, t).alias(n) for n, (p, t) in paths.items()]
    ).collect()[0]
    value, meta = bytes(row["v"].value), bytes(row["v"].metadata)
    assert not codec.Metadata(meta).sorted_strings  # the case under test
    for name, (path, _) in paths.items():
        assert codec.get_path(value, meta, path) == row[name], path
    steps = tuple(codec.parse_json_path("$.c"))
    dec = codec.BatchDecoder()
    node = codec.walk_path(value, steps, dec.fids(meta, steps), False)
    assert node.get_string() == "x"
    m = codec.Metadata(meta)
    assert codec.Variant(value).field(m.find_string("a"), False).get_array().n == 2
    with pytest.raises(codec.VariantError, match="not sorted"):
        codec.ObjectBuilder(codec.Metadata(meta))


json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63) + 1, max_value=2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=40),
)

json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=6),
        st.dictionaries(st.text(max_size=12), children, max_size=6),
    ),
    max_leaves=25,
)
#: a row that has a value: a top-level None is the SQL NULL slot
json_rows = json_values.filter(lambda o: o is not None)


@given(json_rows)
@settings(max_examples=200, deadline=None)
def test_property_roundtrip(obj):
    meta, val = _codec_encode(obj)
    back = json.loads(codec.to_json_str(val, meta))
    assert back == json.loads(json.dumps(obj))


@given(json_rows)
@settings(max_examples=100, deadline=None)
def test_property_variantval_parity(obj):
    if not HAVE_VARIANTVAL:
        return
    meta, val = _codec_encode(obj)
    theirs = json.loads(VariantVal(val, meta).toJson())
    assert theirs == json.loads(json.dumps(obj))


def _keys_of(obj) -> set[str]:
    """Every object key in ``obj``, nested ones included."""
    if isinstance(obj, dict):
        return set(obj).union(*map(_keys_of, obj.values()))
    if isinstance(obj, list):
        return set().union(*map(_keys_of, obj))
    return set()


@given(st.lists(json_values, max_size=12))
@settings(max_examples=150, deadline=None)
def test_property_encode_batch_rows_carry_own_minimal_metadata(rows):
    """Every (metadata, value) pair ``encode_batch`` gives decodes back
    to its input row, through our reader and pyspark's, and every blob
    is exactly that row's dictionary: ``build_metadata`` of its own
    keys, the empty one for a null row."""
    metas, values = codec.encode_batch(rows)
    assert len(metas) == len(values) == len(rows)
    for obj, meta, val in zip(rows, metas, values):
        assert meta == codec.build_metadata(_keys_of(obj))
        if obj is None:
            assert val is None
            continue
        want = json.loads(json.dumps(obj))
        assert json.loads(codec.to_json_str(val, meta)) == want
        if HAVE_VARIANTVAL:
            assert json.loads(VariantVal(val, meta).toJson()) == want


# Mixed-width UTF-8 alphabet: 1-, 2-, 3-, and 4-byte encodings, so the
# 64-byte ShortString boundary gets straddled by multi-byte characters
# in randomized positions (a char whose bytes would cross 63→64 must
# push the whole payload to Long String, never split).
_boundary_chars = st.sampled_from(["x", "é", "✓", "🎉"])


@given(st.lists(_boundary_chars, min_size=1, max_size=70))
@settings(max_examples=150, deadline=None)
def test_property_short_string_boundary(chars):
    """Every prefix of a random mixed-width string: payloads < 64
    UTF-8 bytes must encode as ShortString (1-byte header, exact
    length), >= 64 as primitive Long String (5-byte header); both
    must read back identically through our reader AND pyspark's
    VariantVal (codec.py:274-289; reference values/mod.rs:16 declares
    ShortString but never writes it)."""
    s = "".join(chars)
    for i in range(len(s) + 1):
        p = s[:i]
        n = len(p.encode("utf-8"))
        if not (56 <= n <= 72 or i == len(s)):
            continue  # only exercise the boundary region + full string
        buf = bytearray()
        codec.write_string(buf, p)
        v = codec.Variant(bytes(buf))
        if n < 64:
            assert v.basic_type == codec.BASIC_SHORT_STRING
            assert len(buf) == 1 + n
        else:
            assert v.basic_type == codec.BASIC_PRIMITIVE
            assert v.primitive_type_id == codec.PRIM_STRING
            assert len(buf) == 5 + n
        assert v.get_string() == p
        if HAVE_VARIANTVAL:
            meta = codec.build_metadata(set())
            assert json.loads(VariantVal(bytes(buf), meta).toJson()) == p


def _naive_merge_patch(target, patch):
    """Independent straight-from-the-RFC-7386-pseudocode reference:
    object patches merge key-wise (null deletes), anything else
    replaces wholesale."""
    if isinstance(patch, dict):
        result = dict(target) if isinstance(target, dict) else {}
        for k, v in patch.items():
            if v is None:
                result.pop(k, None)
            else:
                result[k] = _naive_merge_patch(result.get(k), v)
        return result
    return patch


@given(json_values, json_values)
@settings(max_examples=200, deadline=None)
def test_property_merge_patch_matches_rfc_reference(target, patch):
    """codec.merge_patch against the independent reference on random
    value pairs — catches recursion/deletion corners the RFC appendix
    vectors don't reach (nested deletes under replaced arrays, null
    inside lists which must NOT delete, non-dict targets)."""
    got = codec.merge_patch(target, patch)
    assert got == _naive_merge_patch(target, patch)


def _all_paths(obj, prefix="$"):
    """Every (json-path, expected-value) pair reachable in obj, using
    bracket-quoted key steps (safe for keys containing dots/spaces);
    keys containing quote/bracket/backslash chars are skipped — the
    path grammar doesn't define escaping for them."""
    out = []
    if isinstance(obj, dict):
        for k, v in obj.items():
            if k and not any(c in k for c in "'\"[]\\"):
                p = f"{prefix}['{k}']"
                out.append((p, v))
                out.extend(_all_paths(v, p))
    elif isinstance(obj, list):
        for i, v in enumerate(obj):
            p = f"{prefix}[{i}]"
            out.append((p, v))
            out.extend(_all_paths(v, p))
    return out


@given(json_values)
@settings(max_examples=150, deadline=None)
def test_property_get_path_reaches_every_node(obj):
    """For random nested values, get_path must return exactly the
    value at EVERY reachable path (containers included — to_python
    decode), and miss cleanly (None, no error) on an absent key and an
    out-of-bounds index at every object/array node."""
    meta, val = _codec_encode(obj)
    for p, want in _all_paths(obj)[:25]:
        assert codec.get_path(val, meta, p) == want, p
    if isinstance(obj, dict):
        assert codec.get_path(val, meta, "$['\x00nope']") is None
    if isinstance(obj, list):
        assert codec.get_path(val, meta, f"$[{len(obj)}]") is None


# --- Track N vs Track C: strict JSON out, every divergence pinned -----------
#
# (input text, Track N ``to_json(try_parse_json(t))``, Track C
# ``batch_from_json`` → ``BatchDecoder.to_json``); None = rejected at
# parse (SQL NULL on Track N, a null slot under ``tolerant`` on Track C).
# ARCHITECTURE.md's "Track N vs Track C" table says which side each row
# follows and why.
_PI_36 = "3.14159265358979323846264338327950288"
CROSS_TRACK_ROWS = [
    ("1E400", '"Infinity"', '"Infinity"'),
    ("-1E400", '"-Infinity"', '"-Infinity"'),
    ("[1E400]", '["Infinity"]', '["Infinity"]'),
    ('{"a":-1E400}', '{"a":"-Infinity"}', '{"a":"-Infinity"}'),
    ("NaN", None, None),
    ("[NaN]", None, None),
    ('{"a":Infinity}', None, None),
    ("-Infinity", None, None),
    ("-0.0", "0", "-0.0"),
    ("7.0", "7", "7.0"),
    ("1.00000000000000000001", "1.00000000000000000001", "1.0"),
    (_PI_36, _PI_36, "3.141592653589793"),
    ('{"a":1,"a":2}', None, '{"a":2}'),
]


def _track_c_json(text: str) -> str | None:
    (meta,), (val,) = codec.batch_from_json([text], tolerant=True)
    return None if val is None else codec.BatchDecoder().to_json(val, meta)


def _strict_loads(text: str):
    def reject(token):
        raise ValueError(f"non-JSON token {token}")

    return json.loads(text, parse_constant=reject)


def test_cross_track_json_contract(spark):
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.functions.explicit import _coerce

    texts = [t for t, _, _ in CROSS_TRACK_ROWS]
    native = [
        r[0]
        for r in spark.createDataFrame([(t,) for t in texts], "t string")
        .select(F.to_json(F.try_parse_json("t")))
        .collect()
    ]
    for (text, track_n, track_c), got_n in zip(CROSS_TRACK_ROWS, native):
        assert got_n == track_n, text
        got_c = _track_c_json(text)
        assert got_c == track_c, text
        if got_c is None:
            with pytest.raises(codec.VariantError, match="malformed JSON"):
                codec.parse_json(text)
        else:
            _strict_loads(got_c)
    # variant_get(..., 'string') on a container renders the same way
    assert _coerce({"a": [math.inf, "é"]}, "string") == '{"a":["Infinity","é"]}'


# --- Track N vs Track C: the typed getters ----------------------------------
#
# (JSON at ``$.a``, dtype, Track N ``try_variant_get(parse_json(t))``,
# Track C ``variant_get(variant_from_json(t))``). Track C follows Track
# N except on the classes ARCHITECTURE.md's "Track N vs Track C" table
# documents: boolean reads only a boolean, a double renders as Python's
# ``str`` (a Float64 by the reference's data model), and a hex-float
# string is no double. All rows run in one query: one raising value
# fails them all.
_BIG = "123456789012345678901234"
GETTER_ROWS = [
    ("1e20", "bigint", None, None),
    ("1.5e300", "bigint", None, None),
    ("1E400", "bigint", None, None),
    (_BIG, "bigint", None, None),
    ("9223372036854775807", "bigint", 2**63 - 1, 2**63 - 1),
    ("9223372036854775808", "bigint", None, None),
    ("-9223372036854775809", "bigint", None, None),
    ("9.2233720368547758E18", "bigint", 2**63 - 1, 2**63 - 1),
    ("-0.0", "bigint", 0, 0),
    ("7.0", "bigint", 7, 7),
    ("3.7", "bigint", 3, 3),
    ('"true"', "bigint", None, None),
    ('"12"', "bigint", 12, 12),
    ('"\\u0000 12\\u007f"', "bigint", 12, 12),
    ('"12.5"', "bigint", None, None),
    ('"1_000"', "bigint", None, None),
    ('"\\u0661"', "bigint", None, None),
    ("true", "bigint", 1, 1),
    ("null", "bigint", None, None),
    ("1e20", "double", 1e20, 1e20),
    ("1E400", "double", math.inf, math.inf),
    (_BIG, "double", 1.2345678901234568e23, 1.2345678901234568e23),
    ("3.7", "double", 3.7, 3.7),
    ('"12"', "double", 12.0, 12.0),
    ('"1.5e3f"', "double", 1500.0, 1500.0),
    ('" 12 "', "double", 12.0, 12.0),
    ('"0x1p3"', "double", 8.0, None),
    ('"-INF"', "double", -math.inf, -math.inf),
    ('"+nan"', "double", None, None),
    ('"1_000"', "double", None, None),
    ('"true"', "double", None, None),
    ("null", "double", None, None),
    ("1e20", "boolean", True, None),
    ("-0.0", "boolean", False, None),
    ("7.0", "boolean", True, None),
    ("3.7", "boolean", True, None),
    ('"true"', "boolean", True, None),
    ('"12"', "boolean", None, None),
    ("9223372036854775808", "boolean", True, None),
    ("true", "boolean", True, True),
    ("null", "boolean", None, None),
    ("1e20", "string", "1.0E20", "1e+20"),
    ("1.5e300", "string", "1.5E300", "1.5e+300"),
    ("-0.0", "string", "0", "-0.0"),
    ("7.0", "string", "7", "7.0"),
    ("3.7", "string", "3.7", "3.7"),
    ('"true"', "string", "true", "true"),
    ('"12"', "string", "12", "12"),
    (_BIG, "string", _BIG, _BIG),
    ("9223372036854775808", "string", "9223372036854775808", "9223372036854775808"),
    ('{"x":[1,"y"]}', "string", '{"x":[1,"y"]}', '{"x":[1,"y"]}'),
    ("null", "string", None, None),
]


def test_cross_track_getter_contract(spark):
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.functions import explicit

    docs = sorted({f'{{"a":{value}}}' for value, _, _, _ in GETTER_ROWS})
    dtypes = ("bigint", "double", "boolean", "string")
    df = spark.createDataFrame(list(enumerate(docs)), "i int, t string")
    track_c = explicit.variant_extract(
        explicit.variant_from_json(F.col("t")), {d: ("$.a", d) for d in dtypes}
    )
    rows = df.select(
        "i",
        *[F.try_variant_get(F.parse_json("t"), "$.a", d).alias("n_" + d) for d in dtypes],
        *[track_c[d].alias("c_" + d) for d in dtypes],
    ).collect()
    got = {docs[r["i"]]: r for r in rows}
    for value, dtype, track_n, track_c in GETTER_ROWS:
        r = got[f'{{"a":{value}}}']
        assert (r["n_" + dtype], r["c_" + dtype]) == (track_n, track_c), (value, dtype)


def _holds_float(obj) -> bool:
    if isinstance(obj, dict):
        return any(_holds_float(v) for v in obj.values())
    if isinstance(obj, list):
        return any(_holds_float(v) for v in obj)
    return isinstance(obj, float)


_GETTER_DTYPES = ("bigint", "double", "boolean", "string")


def _lower_escapes(text: str) -> str:
    """A control character in a rendered container escapes as
    ``\\u001F`` on Track N (Jackson) and ``\\u001f`` on Track C."""
    return re.sub(r"\\u[0-9A-F]{4}", lambda m: m.group(0).lower(), text)


@given(st.lists(json_rows, min_size=1, max_size=6))
@settings(max_examples=25, deadline=None)
def test_property_getters_follow_track_n(spark, docs):
    """For random documents, every path that exists (the root included)
    and every dtype: the Track C getter never fails the query, and it
    equals Track N except on the documented classes — boolean of a
    non-boolean (Track C NULL) and string of a value holding a double.
    A path that another document has but this one lacks reads NULL on
    both tracks."""
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.functions import explicit

    walks = [[("$", d)] + _all_paths(d) for d in docs]
    present = [dict(w) for w in walks]
    paths = list(dict.fromkeys(p for w in walks for p, _ in w[:12]))[:40]
    texts = [json.dumps(d, ensure_ascii=False) for d in docs]
    fields = {f"{k}_{d}": (p, d) for k, p in enumerate(paths) for d in _GETTER_DTYPES}
    track_c = explicit.variant_extract(explicit.variant_from_json(F.col("t")), fields)
    rows = (
        spark.createDataFrame(list(enumerate(texts)), "i int, t string")
        .select(
            "i",
            track_c.alias("c"),
            *[
                F.try_variant_get(F.parse_json("t"), p, d).alias(f"n{name}")
                for name, (p, d) in fields.items()
            ],
        )
        .collect()
    )
    for r in rows:
        at = present[r["i"]]
        for name, (p, dtype) in fields.items():
            n, c = r["n" + name], r["c"][name]
            if p not in at:
                assert n is None and c is None, (texts[r["i"]], p, dtype)
            elif dtype == "boolean" and not isinstance(at[p], bool):
                assert c is None, (texts[r["i"]], p)
            elif not (dtype == "string" and _holds_float(at[p])):
                if dtype == "string" and isinstance(at[p], (list, dict)):
                    n, c = _lower_escapes(n), _lower_escapes(c)
                same = n == c or n != n and c != c  # NaN reads NaN on both
                assert same, (texts[r["i"]], p, dtype, n, c)


_any_floats = st.floats(allow_nan=True, allow_infinity=True)
json_values_non_finite = st.recursive(
    st.one_of(json_scalars, _any_floats),
    lambda children: st.one_of(
        st.lists(children, max_size=6),
        st.dictionaries(st.text(max_size=12), children, max_size=6),
    ),
    max_leaves=25,
)


@given(json_values_non_finite)
@settings(max_examples=200, deadline=None)
def test_property_track_c_output_is_strict_json(obj):
    """Whatever value reaches the codec, non-finite floats included,
    Track C's text parses under strict JSON."""
    meta, val = _codec_encode(obj)
    if val is not None:
        _strict_loads(codec.BatchDecoder().to_json(val, meta))
