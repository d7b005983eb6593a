"""Property-based tests (hypothesis) for the pure-Python pieces.

The reference has no property tests; these harden the parser/template/
contract helpers beyond the golden tables.
"""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from arcane_framework_spark.contracts.openapi import parse_openapi_schema
from arcane_framework_spark.sources.csv_ops import (
    is_complete,
    parse_csv_line,
    replace_quoted_newlines,
)
from arcane_framework_spark.sources.rest import RestApiTemplate

# Field values without quotes/newlines; empties round-trip to None.
_plain = st.text(
    alphabet=st.characters(blacklist_characters='"\n\r', codec="ascii"),
    max_size=20,
)


def _render(fields: list[str], delimiter: str = ",") -> str:
    out = []
    for f in fields:
        if delimiter in f:
            out.append(f'"{f}"')
        else:
            out.append(f)
    return delimiter.join(out)


@settings(max_examples=200)
@given(st.lists(_plain, min_size=1, max_size=8))
def test_csv_roundtrip_property(fields):
    line = _render(fields)
    parsed = parse_csv_line(line, len(fields))
    expected = [f if f else None for f in fields]
    assert parsed == expected


@settings(max_examples=100)
@given(st.text(max_size=60))
def test_csv_is_complete_matches_quote_parity(text):
    assert is_complete(text) == (text.count('"') % 2 == 0)


@settings(max_examples=100)
@given(st.lists(_plain.filter(lambda s: "," not in s), min_size=1, max_size=4))
def test_quoted_newline_repair_keeps_unquoted_text(fields):
    # newlines outside quotes must survive; quoted ones must not
    line = "\n".join(fields)
    assert replace_quoted_newlines(line) == line
    quoted = '"a\nb",' + _render(fields)
    assert replace_quoted_newlines(quoted).startswith('"ab",')


@settings(max_examples=50)
@given(
    st.dictionaries(
        st.text(alphabet=st.characters(codec="ascii", categories=["L"]),
                min_size=1, max_size=8),
        st.sampled_from(
            [{"type": "string"}, {"type": "integer"}, {"type": "number"},
             {"type": "boolean"},
             {"type": "array", "items": {"type": "string"}}]
        ),
        max_size=6,
    )
)
def test_openapi_schema_field_count_property(props):
    schema = parse_openapi_schema(
        json.dumps({"type": "object", "properties": props})
    )
    assert len(schema.fields) == len(props)
    assert [f.name for f in schema.fields] == list(props)


@settings(max_examples=100)
@given(st.dictionaries(
    st.text(alphabet="abcdefgh", min_size=1, max_size=5),
    st.text(alphabet=st.characters(blacklist_characters="@", codec="ascii"),
            max_size=10),
    min_size=1, max_size=4,
))
def test_rest_template_substitutes_all_declared_fields(values):
    template = "&".join(f"{k}=@{k}" for k in values)
    t = RestApiTemplate(template, list(values))
    for k, v in values.items():
        t.resolve_field(k, v)
    resolved = t.resolve()
    for k, v in values.items():
        assert f"{k}={v}" in resolved or v == ""


# ---------------------------------------------------------------------------
# WAV codec properties (pure Python/numpy — no Spark session needed)
# ---------------------------------------------------------------------------

from arcane_framework_spark.operators.multimodal import (  # noqa: E402
    decode_wav,
    synthesize_wav,
)


@settings(max_examples=200)
@given(st.integers(min_value=0, max_value=10**12),
       st.integers(min_value=0, max_value=10**9))
def test_wav_roundtrip_property(doc_id, n_chars):
    import numpy as np

    rate, channels, s = decode_wav(synthesize_wav(doc_id, n_chars))
    n = 256 + (n_chars % 256)
    half = 1 + (doc_id % 8)
    amp = 8192 + (doc_id % 8192)
    assert (rate, channels, len(s)) == (8000, 1, n)
    # Every sample is exactly +/-amp and blocks alternate every `half`.
    assert set(np.unique(np.abs(s.astype("int64")))) == {amp}
    i = np.arange(n)
    expected_sign = np.where((i // half) % 2 == 0, 1, -1)
    assert np.array_equal(np.sign(s.astype("int64")), expected_sign)


@settings(max_examples=300)
@given(st.integers(min_value=0, max_value=500),
       st.integers(min_value=0, max_value=255),
       st.integers(min_value=0, max_value=400))
def test_wav_decode_never_crashes_on_mutation(pos, value, truncate):
    """Any single-byte mutation or truncation of a valid WAV either still
    decodes or raises the documented errors — never struct.error,
    IndexError, or a numpy buffer error (the chunk-walk contract)."""
    good = bytearray(synthesize_wav(7, 100))
    if truncate:
        good = good[:max(0, len(good) - truncate)]
    if pos < len(good):
        good[pos] = value
    try:
        decode_wav(bytes(good))
    except (ValueError, NotImplementedError):
        pass  # the documented failure modes


# ---------------------------------------------------------------------------
# Image codec properties (pure numpy — no Spark session needed)
# ---------------------------------------------------------------------------

from arcane_framework_spark.operators.multimodal import (  # noqa: E402
    decode_image,
    synth_image_bytes,
)


@settings(max_examples=200)
@given(st.integers(min_value=0, max_value=255),
       st.integers(min_value=1, max_value=40),
       st.integers(min_value=1, max_value=40),
       st.sampled_from(["bmp", "ppm", "png"]))
def test_image_synth_roundtrip_property(seed, width, height, fmt):
    """Every synthetic image decodes back to exactly the closed-form
    pixel grid, for ANY dims — BMP (bottom-up BGR, padded strides) and
    PPM (top-down RGB, variable-width header) must agree bit-for-bit."""
    import numpy as np

    img = decode_image(synth_image_bytes(seed, width, height, fmt))
    assert img.shape == (height, width, 3)
    r = np.arange(height, dtype=np.int64)[:, None, None] * 7
    c = np.arange(width, dtype=np.int64)[None, :, None] * 3
    ch = np.arange(3, dtype=np.int64)[None, None, :]
    assert np.array_equal(img, ((seed + r + c + ch) % 256).astype(np.uint8))


@settings(max_examples=300)
@given(st.integers(min_value=0, max_value=400),
       st.integers(min_value=0, max_value=255),
       st.integers(min_value=0, max_value=200),
       st.sampled_from(["bmp", "ppm", "png"]))
def test_image_decode_never_crashes_on_mutation(pos, value, truncate, fmt):
    """Any single-byte mutation or truncation of a valid image either
    still decodes or raises the documented errors — never struct.error,
    IndexError, or a numpy reshape error."""
    good = bytearray(synth_image_bytes(9, 11, 7, fmt))
    if truncate:
        good = good[:max(0, len(good) - truncate)]
    if pos < len(good):
        good[pos] = value
    try:
        decode_image(bytes(good))
    except (ValueError, NotImplementedError):
        pass  # the documented failure modes


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1),
       st.integers(min_value=1, max_value=25),
       st.integers(min_value=1, max_value=25))
def test_jpeg_gray_roundtrip_matches_independent_recon(seed, width, height):
    """For ANY grayscale image, decode(encode(img)) equals an
    independent quantize->dequantize->IDCT reconstruction bit-for-bit:
    the Huffman/bitstream layer is lossless, all loss is quantization."""
    import numpy as np

    from arcane_framework_spark.operators.jpeg import (
        QUANT_LUMA,
        _basis,
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(seed)
    g = rng.integers(0, 256, (height, width), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(g))[:, :, 0].astype(np.int64)
    B = _basis()
    Q = np.array(QUANT_LUMA, dtype=np.float64).reshape(8, 8)
    hp, wp = -(-height // 8) * 8, -(-width // 8) * 8
    ys = np.minimum(np.arange(hp), height - 1)
    xs = np.minimum(np.arange(wp), width - 1)
    gp = g[np.ix_(ys, xs)].astype(np.float64)
    exp = np.zeros((hp, wp))
    for by in range(0, hp, 8):
        for bx in range(0, wp, 8):
            blk = gp[by:by + 8, bx:bx + 8] - 128.0
            fq = np.round((B @ blk @ B.T) / Q) * Q
            exp[by:by + 8, bx:bx + 8] = np.clip(
                np.round(B.T @ fq @ B + 128.0), 0, 255
            )
    assert np.array_equal(dec, exp[:height, :width].astype(np.int64))


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=600),
       st.integers(min_value=0, max_value=255),
       st.integers(min_value=0, max_value=300))
def test_jpeg_decode_never_crashes_on_mutation(pos, value, truncate):
    """Any single-byte mutation or truncation of a valid JPEG either
    still decodes or raises the documented errors — never struct.error,
    IndexError, ZeroDivisionError, or a numpy shape error."""
    import numpy as np

    from arcane_framework_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    good = bytearray(
        encode_jpeg(rng.integers(0, 256, (13, 9), dtype=np.uint8))
    )
    if truncate:
        good = good[:max(0, len(good) - truncate)]
    if pos < len(good):
        good[pos] = value
    try:
        decode_jpeg(bytes(good))
    except (ValueError, NotImplementedError):
        pass  # the documented failure modes


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=600),
       st.integers(min_value=0, max_value=255),
       st.integers(min_value=0, max_value=300))
def test_gif_decode_never_crashes_on_mutation(pos, value, truncate):
    """Any single-byte mutation or truncation of a valid GIF either
    still decodes or raises the documented errors — never struct.error,
    IndexError, or a numpy shape/index error (LZW dictionary abuse,
    lying sub-block sizes, truncated descriptors are all fuzz-reachable
    here)."""
    import numpy as np

    from arcane_framework_spark.operators.gif import decode_gif, encode_gif

    rng = np.random.default_rng(23)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    img = rng.integers(0, 16, (14, 11), dtype=np.uint8)
    good = bytearray(encode_gif(img, pal, interlace=bool(pos % 2)))
    if truncate:
        good = good[:max(0, len(good) - truncate)]
    if pos < len(good):
        good[pos] = value
    try:
        decode_gif(bytes(good))
    except (ValueError, NotImplementedError):
        pass  # the documented failure modes


# ---------------------------------------------------------------------------
# Round-10 additions: CT feed reader bounds + templated-field selection
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=-3, max_value=40), min_size=0,
             max_size=25),
    st.integers(min_value=-5, max_value=45),
    st.one_of(st.none(), st.integers(min_value=-5, max_value=45)),
)
def test_ct_feed_rows_version_bounds_property(versions, lo, hi):
    """_feed_batches must return exactly the rows with lo < version <= hi
    (hi=None: unbounded above) and report the feed-wide max version —
    the invariants Spark's commit-log resume and readBetweenOffsets
    replay are built on."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from arcane_framework_spark.sources.ct_datasource import _feed_batches
    from tests.conftest import batch_rows

    with tempfile.TemporaryDirectory() as feed:
        if versions:
            pq.write_table(
                pa.table({
                    "pk": list(range(len(versions))),
                    "SYS_CHANGE_VERSION": versions,
                }),
                f"{feed}/b.parquet",
            )
        batches, max_seen = _feed_batches(
            feed, "SYS_CHANGE_VERSION",
            pa.schema([("pk", pa.int64()), ("SYS_CHANGE_VERSION", pa.int64())]),
            lo, hi,
        )
        expect = sorted(
            (i, v) for i, v in enumerate(versions)
            if v > lo and (hi is None or v <= hi)
        )
        assert sorted(batch_rows(batches)) == expect
        assert max_seen == (max(versions) if versions else lo)


@settings(max_examples=100)
@given(
    st.lists(
        st.sampled_from(
            ["RESPONSE_PAGE", "FILTER_DATE_FROM",
             "FILTER_DATE_BETWEEN_FROM", "FILTER_DATE_BETWEEN_TO"]
        ),
        min_size=0,
        max_size=6,
    )
)
def test_templated_field_first_by_declaration_order(kinds):
    """_first_field mirrors the reference's FirstOrDefault: for any
    declared field list, the selected field is the FIRST whose type is in
    the requested set, or None — independent of what follows it."""
    from arcane_framework_spark.sources.rest import (
        RestApiTemplatedField,
        _first_field,
    )

    fields = [
        RestApiTemplatedField(k, f"f{i}") for i, k in enumerate(kinds)
    ]
    want_types = ("FILTER_DATE_FROM", "FILTER_DATE_BETWEEN_FROM")
    got = _first_field(fields, *want_types)
    expect = next(
        (f for f in fields if f.field_type in want_types), None
    )
    assert got is expect
    page = _first_field(fields, "RESPONSE_PAGE")
    assert (page is None) == ("RESPONSE_PAGE" not in kinds)
    if page is not None:
        assert page.field_type == "RESPONSE_PAGE"
        assert all(
            f.field_type != "RESPONSE_PAGE"
            for f in fields[: fields.index(page)]
        )
