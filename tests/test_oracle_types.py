"""Golden byte-level tests for the Oracle type decode kernels, mirroring
the byte semantics of src/builder/Builder.{h,cpp} (NUMBER base-100 with
0x66 negative terminator, DATE excess-100, sign-flipped IEEE floats)."""

from __future__ import annotations

from decimal import Decimal

from hypothesis import given, settings, strategies as st

from openlogreplicator_spark.functions.oracle_types import (
    charset_decode,
    decode_binary_double,
    decode_binary_float,
    decode_date,
    decode_interval_ds,
    decode_interval_ym,
    decode_number,
    decode_timestamp,
    decode_timestamp_tz,
    encode_binary_double,
    encode_binary_float,
    encode_number,
    rowid_to_text,
)

# hand-computed Oracle NUMBER encodings (the classic examples)
NUMBER_GOLDENS = [
    (b"\x80", "0"),
    (b"\xc1\x02", "1"),                   # 1 = 100^0 * 1
    (b"\xc1\x03", "2"),
    (b"\xc2\x02", "100"),                 # 100 = 100^1 * 1
    (b"\xc2\x02\x18\x2e", "123.45"),      # 1|23|45 exp 1
    (b"\xc1\x50", "79"),
    (b"\xc0\x33", "0.5"),                 # 50 at exp -1
    (b"\xbf\x08", "0.0007"),              # 7 at exp -2
    (b"\x3e\x64\x66", "-1"),              # negative: 62-exp, 101-d, 0x66
    (b"\x3c\x64\x64\x3c\x66", "-10141"),  # -(1|01|41) exp 2
    (b"\x3d\x64\x5a\x38\x66", "-111.45"),  # -(1|11|45) exp 1
    (b"\x3e\x02\x66", "-99"),
]


def test_number_goldens():
    for raw, expect in NUMBER_GOLDENS:
        assert decode_number(raw) == expect, (raw.hex(), expect)


@settings(max_examples=200, deadline=None)
@given(
    st.decimals(
        min_value=Decimal("-1e18"),
        max_value=Decimal("1e18"),
        allow_nan=False,
        allow_infinity=False,
        places=6,
    )
)
def test_number_roundtrip(d):
    s = format(d.normalize(), "f")
    got = decode_number(encode_number(s))
    assert Decimal(got) == Decimal(s)


def test_date_golden():
    # 1998-09-02 13:45:59 → cc=119, yy=198, m=9, d=2, h=14, mi=46, s=60
    raw = bytes([119, 198, 9, 2, 14, 46, 60])
    assert decode_date(raw) == "1998-09-02 13:45:59"
    # epoch-ish 1970-01-01 00:00:00
    raw = bytes([119, 170, 1, 1, 1, 1, 1])
    assert decode_date(raw) == "1970-01-01 00:00:00"


def test_timestamp_golden():
    raw = bytes([119, 198, 9, 2, 14, 46, 60]) + (123456789).to_bytes(4, "big")
    assert decode_timestamp(raw) == "1998-09-02 13:45:59.123456789"


def test_timestamp_tz_golden():
    base = bytes([119, 198, 9, 2, 14, 46, 60]) + (0).to_bytes(4, "big")
    assert decode_timestamp_tz(base + bytes([25, 60])) == (
        "1998-09-02 13:45:59.000000000 +05:00"
    )
    assert decode_timestamp_tz(base + bytes([15, 30])) == (
        "1998-09-02 13:45:59.000000000 -05:30"
    )


def test_interval_ym():
    # +3 years 4 months
    raw = (0x80000000 + 3).to_bytes(4, "big") + bytes([64])
    assert decode_interval_ym(raw) == "3-4"
    # -1 year 2 months
    raw = (0x80000000 - 1).to_bytes(4, "big") + bytes([58])
    assert decode_interval_ym(raw) == "-1-2"


def test_interval_ds():
    raw = (
        (0x80000000 + 2).to_bytes(4, "big")
        + bytes([63, 64, 65])
        + (0x80000000 + 500).to_bytes(4, "big")
    )
    assert decode_interval_ds(raw) == "2 03:04:05.000000500"


def test_rowid_render():
    # known shape: 18 chars from the documented base-64 alphabet
    rid = rowid_to_text(8187, 4, 219, 0)
    assert len(rid) == 18
    assert rowid_to_text(0, 0, 0, 0) == "A" * 18
    # dataObj=1 → 'AAAAAB' prefix
    assert rowid_to_text(1, 0, 0, 0).startswith("AAAAAB")


@settings(max_examples=100, deadline=None)
@given(st.floats(
    allow_nan=False, allow_infinity=False, allow_subnormal=False, width=64
))
def test_binary_double_roundtrip(v):
    # subnormals excluded: Builder::decodeDouble decodes them at HALF
    # the IEEE value (no implicit bit, normal bias — exact-port pin
    # below), so the reference itself cannot round-trip them
    assert decode_binary_double(encode_binary_double(v)) == v


@settings(max_examples=100, deadline=None)
@given(st.floats(
    allow_nan=False, allow_infinity=False, allow_subnormal=False, width=32
))
def test_binary_float_roundtrip(v):
    assert decode_binary_float(encode_binary_float(v)) == v


def test_binary_float_edge_semantics_match_reference():
    """r12 review-pass-9: exact Builder::decodeFloat/decodeDouble port
    (Builder.cpp:617-676). Stored IEEE subnormals decode at HALF the
    IEEE value (the reference applies the normal exponent bias without
    the implicit bit); only the canonical quiet-NaN payload maps to
    NaN — any other NaN-patterned image decodes as a huge finite
    number; infinities and zeros keep their special cases."""
    import math
    import struct

    def enc_f(v):
        raw = struct.pack(">f", v)
        if raw[0] & 0x80:
            return bytes(x ^ 0xFF for x in raw)
        return bytes([raw[0] | 0x80]) + raw[1:]

    sub = 1e-40  # float32 subnormal
    got = decode_binary_float(enc_f(sub))
    ieee = struct.unpack(">f", struct.pack(">f", sub))[0]
    assert got == ieee / 2
    assert decode_binary_float(enc_f(-sub)) == -ieee / 2
    # canonical quiet NaN → NaN; non-canonical payload → huge finite
    assert math.isnan(decode_binary_float(bytes([0xFF, 0xC0, 0, 0])))
    odd = decode_binary_float(bytes([0xFF, 0xC0, 0, 1]))
    assert math.isfinite(odd) and odd > 1e38
    assert decode_binary_float(enc_f(math.inf)) == math.inf
    assert decode_binary_float(enc_f(-math.inf)) == -math.inf
    assert decode_binary_float(enc_f(0.0)) == 0.0

    subd = 1e-310  # float64 subnormal
    assert decode_binary_double(encode_binary_double(subd)) == subd / 2
    assert math.isnan(
        decode_binary_double(bytes([0xFF, 0xF8, 0, 0, 0, 0, 0, 0]))
    )
    # the double case saturates to inf: the reference's 80-bit long
    # double holds the ~2^1025 decode, a 64-bit float cannot
    oddd = decode_binary_double(bytes([0xFF, 0xF8, 0, 0, 0, 0, 0, 1]))
    assert oddd == math.inf
    assert decode_binary_double(encode_binary_double(math.inf)) == math.inf


def test_binary_double_ordering_property():
    """Oracle's sign-flip encoding makes byte order = numeric order."""
    vals = [-1e9, -1.5, -0.0, 0.0, 1e-9, 2.5, 1e12]
    encoded = [encode_binary_double(v) for v in vals]
    assert encoded == sorted(encoded)


def test_charset_decode_modes():
    assert charset_decode("héllo".encode("utf-8")) == "héllo"
    assert charset_decode("héllo".encode("latin-1"), "WE8ISO8859P1") == "héllo"
    assert charset_decode(b"\xff\xfe", mode="hex") == "fffe"
    assert charset_decode(b"\xff", mode="nomapping") == "ÿ"
    assert charset_decode(b"ab", "AL16UTF16") == "慢"


def test_charset_east_asian_golden_vectors():
    """Table-driven multi-byte sets (reference src/locales/): golden
    byte sequences per charset."""
    # JA16EUC: '日本語' in EUC-JP
    assert charset_decode(b"\xc6\xfc\xcb\xdc\xb8\xec", "JA16EUC") == "日本語"
    # JA16SJIS: same text in Shift-JIS
    assert charset_decode(b"\x93\xfa\x96\x7b\x8c\xea", "JA16SJIS") == "日本語"
    # ZHS16GBK: '中文' in GBK
    assert charset_decode(b"\xd6\xd0\xce\xc4", "ZHS16GBK") == "中文"
    # ZHT16BIG5: '中文' in Big5
    assert charset_decode(b"\xa4\xa4\xa4\xe5", "ZHT16BIG5") == "中文"
    # KO16KSC5601: '한국' in EUC-KR
    assert charset_decode(b"\xc7\xd1\xb1\xb9", "KO16KSC5601") == "한국"
    # GB18030 4-byte sequence: U+10400 '𐐀'
    assert charset_decode("𐐀".encode("gb18030"), "ZHS32GB18030") == "𐐀"


def test_charset_utf8_is_cesu8():
    """Oracle 'UTF8' is CESU-8: a supplementary char ships as two
    3-byte-encoded surrogates (6 bytes), NOT one 4-byte UTF-8 sequence.
    The round-1 plain-utf-8 mapping garbled these."""
    from openlogreplicator_spark.functions.oracle_types import _encode_cesu8

    s = "a𝄞b"  # U+1D11E musical symbol, outside the BMP
    cesu = _encode_cesu8(s)
    assert len(cesu) == 8  # 1 + 3 + 3 + 1 — surrogate pair, not 4-byte
    assert cesu != s.encode("utf-8")
    assert charset_decode(cesu, "UTF8") == s
    # BMP content matches plain utf-8
    assert charset_decode("héllo".encode("utf-8"), "UTF8") == "héllo"
    # AL32UTF8 stays true 4-byte UTF-8
    assert charset_decode(s.encode("utf-8"), "AL32UTF8") == s


class TestCharsetExtra:
    """KO16KSCCS / ZHT16HKSCS31 — the two reference charsets with no
    Python codec, decoded by rule+delta (charset_extra.py; full-table
    equivalence is re-checkable via tools/gen_charset_deltas.py)."""

    def test_ko16ksccs_golden(self):
        from openlogreplicator_spark.functions.oracle_types import charset_decode

        # assigned syllables ride the Johab mapping (ref table probes:
        # 가=0x8861, 한=0xD065, 글=0x8B69)
        assert charset_decode(bytes.fromhex("8861d0658b69"), "KO16KSCCS") == "가한글"
        # delta entry: 0xD9C1 → U+25C9 (Johab says U+2299)
        assert charset_decode(bytes.fromhex("d9c1"), "KO16KSCCS") == "◉"
        # valid-but-unassigned position → U+00AD (reference filler)
        assert charset_decode(bytes.fromhex("8452"), "KO16KSCCS") == "­"
        # structurally invalid trail byte → replacement
        assert charset_decode(bytes.fromhex("8431"), "KO16KSCCS") == "�"
        # ASCII passthrough mixes freely
        assert charset_decode(b"A\x88\x61B", "KO16KSCCS") == "A가B"

    def test_zht16hkscs31_golden(self):
        from openlogreplicator_spark.functions.oracle_types import charset_decode

        # Big5 core (一=0xA440, 廠=0xBC74, 龘=0xF9D5)
        assert charset_decode(bytes.fromhex("a440bc74f9d5"), "ZHT16HKSCS31") == "一廠龘"
        # Unicode-3.1 PUA compatibility zone: 0x8140 → U+EEB8, linear
        assert charset_decode(bytes.fromhex("8140"), "ZHT16HKSCS31") == ""
        assert charset_decode(bytes.fromhex("8141"), "ZHT16HKSCS31") == ""
        # row 0x87 continues the same linear zone (157/row)
        assert charset_decode(bytes.fromhex("8740"), "ZHT16HKSCS31") == ""
        # mixed row: codec-assigned char wins over the PUA zone
        assert charset_decode(bytes.fromhex("8e69"), "ZHT16HKSCS31") == "箸"


def test_interval_format_variants():
    """INTERVAL_YTM_FORMAT / INTERVAL_DTS_FORMAT render matrix
    (Format.h:54-74; Builder.cpp:354-590)."""
    ym = (0x80000000 + 3).to_bytes(4, "big") + bytes([64])  # +3y 4m
    assert decode_interval_ym(ym, "months") == "40"
    assert decode_interval_ym(ym, "months_string") == "40"
    assert decode_interval_ym(ym, "string_ym_space") == "3 4"
    assert decode_interval_ym(ym, "string_ym_comma") == "3,4"
    assert decode_interval_ym(ym, "string_ym_dash") == "3-4"
    neg = (0x80000000 - 1).to_bytes(4, "big") + bytes([58])  # -1y 2m
    assert decode_interval_ym(neg, "months") == "-14"

    ds = (
        (0x80000000 + 2).to_bytes(4, "big")
        + bytes([63, 64, 65])
        + (0x80000000 + 1500).to_bytes(4, "big")
    )  # +2d 03:04:05.0000015
    assert decode_interval_ds(ds, "iso8601_space") == "2 03:04:05.000001500"
    assert decode_interval_ds(ds, "iso8601_comma") == "2,03:04:05.000001500"
    assert decode_interval_ds(ds, "iso8601_dash") == "2-03:04:05.000001500"
    total_ns = ((2 * 24 + 3) * 3600 + 4 * 60 + 5) * 10**9 + 1500
    assert decode_interval_ds(ds, "unix_nano") == str(total_ns)
    # half-up rounding at each scale (Builder.cpp:541-557)
    assert decode_interval_ds(ds, "unix_micro") == str((total_ns + 500) // 1000)
    assert decode_interval_ds(ds, "unix_milli") == str((total_ns + 500_000) // 10**6)
    assert decode_interval_ds(ds, "unix") == str((total_ns + 500_000_000) // 10**9)
    nds = (
        (0x80000000 - 1).to_bytes(4, "big")
        + bytes([59, 58, 57])
        + (0x80000000 - 250).to_bytes(4, "big")
    )  # -1d 01:02:03.00000025
    assert decode_interval_ds(nds, "unix_nano").startswith("-")
    assert decode_interval_ds(nds, "iso8601_space").startswith("-1 01:02:03")


def test_tilde_charset_variants():
    """JA16SJISTILDE / JA16EUCTILDE override exactly one mapping vs their
    base sets: 0x8160 / 0xA1C1 → U+FF5E FULLWIDTH TILDE where the base
    decodes U+301C WAVE DASH (CharacterSetJA16SJISTILDE.cpp:27-29,
    CharacterSetJA16EUCTILDE.cpp:26-28)."""
    from openlogreplicator_spark.functions.oracle_types import charset_decode

    assert charset_decode(b"\x81\x60", "JA16SJIS") == "〜"
    assert charset_decode(b"\x81\x60", "JA16SJISTILDE") == "～"
    assert charset_decode(b"\xa1\xc1", "JA16EUC") == "〜"
    assert charset_decode(b"\xa1\xc1", "JA16EUCTILDE") == "～"
    # surrounding text unaffected
    assert charset_decode("済".encode("shift_jis") + b"\x81\x60",
                          "JA16SJISTILDE") == "済～"


def test_v4_image_kernels_round_trip():
    """TSTZ / interval / BOOLEAN / UROWID encode↔decode pairs (the OLRS1
    v4 column-image forms, Builder.cpp:272-613)."""
    from openlogreplicator_spark.functions.oracle_types import (
        decode_boolean,
        decode_interval_ds,
        decode_interval_ym,
        decode_timestamp_tz,
        decode_urowid,
        encode_boolean,
        encode_interval_ds,
        encode_interval_ym,
        encode_timestamp_tz,
        encode_urowid,
        rowid_to_text,
    )

    for s in (
        "2024-03-05 10:20:30.000000123 +05:30",
        "1999-12-31 23:59:59.999999999 -11:45",
        "2024-01-01 00:00:00.000000000 +00:00",
        "2024-01-01 00:00:00.000000000 -00:30",
    ):
        assert decode_timestamp_tz(encode_timestamp_tz(s)) == s
    for s in ("3-7", "-2-11", "0-0", "-0-1", "150-11"):
        assert decode_interval_ym(encode_interval_ym(s)) == s
    for s in (
        "5 03:20:11.000001234",
        "-12 23:59:59.999999999",
        "0 00:00:00.000000000",
        "-0 00:00:01.000000000",
    ):
        assert decode_interval_ds(encode_interval_ds(s)) == s
    assert decode_boolean(encode_boolean("0")) == "0"
    assert decode_boolean(encode_boolean("1")) == "1"
    # reference: columnUnknown route renders the UNKNOWN_FORMAT value
    assert decode_boolean(b"\x02") == "?"

    t = rowid_to_text(91234, 7, 12345, 42)
    assert decode_urowid(encode_urowid(t)) == t
    assert encode_urowid(t)[0] == 0x01  # physical-rowid marker


def test_v4_tstz_golden_bytes():
    """13-byte layout golden check: excess-20 hour / excess-60 minute
    offset bytes after the 11-byte timestamp (Builder.cpp:272-353)."""
    from openlogreplicator_spark.functions.oracle_types import (
        encode_timestamp_tz,
    )

    b = encode_timestamp_tz("2024-03-05 10:20:30.000000123 +05:30")
    assert len(b) == 13
    assert b[11] == 25 and b[12] == 90  # +5h → 20+5, +30m → 60+30
    nb = encode_timestamp_tz("2024-03-05 10:20:30.000000123 -05:30")
    assert nb[11] == 15 and nb[12] == 30  # -5h → 20-5, -30m → 60-30


def test_timestamp_ltz_kernel():
    """TIMESTAMP WITH LOCAL TZ (Builder.cpp:167-208): stored wall clock
    is in the database timezone; emitted value is the UTC instant."""
    from openlogreplicator_spark.functions.oracle_types import (
        decode_timestamp_ltz,
        encode_date,
        encode_timestamp_ltz,
    )

    for s in (
        "2024-03-05 10:20:30.000000123",
        "2023-12-31 23:30:00.000000000",  # offset crosses midnight
        "2024-01-01 00:30:00.999999999",
    ):
        assert decode_timestamp_ltz(encode_timestamp_ltz(s)) == s
    # wall 12:00 in the fixture's +02:00 database zone → 10:00 UTC
    b = encode_date("2024-06-01 12:00:00") + b"\x00\x00\x00\x00"
    assert decode_timestamp_ltz(b) == "2024-06-01 10:00:00.000000000"
    # 7-byte form (no fraction) is legal; other sizes are columnUnknown
    assert decode_timestamp_ltz(b[:7]) == "2024-06-01 10:00:00.000000000"
    assert decode_timestamp_ltz(b[:9]) == "?"


def test_timestamp_tz_format_matrix():
    """TIMESTAMP_TZ_FORMAT (Format.h:31-44) — all 12 variants of
    BuilderJson::columnTimestampTz (BuilderJson.cpp:281-450): scaled
    epoch with half-up rounding + ',tz' for the UNIX_*_STRING forms,
    'T'-separated + 'Z tz' for ISO*_TZ, space-separated + ' tz' for the
    bare ISO forms; rounding carries into the seconds."""
    import calendar
    import struct as _struct

    from openlogreplicator_spark.functions.oracle_types import (
        decode_timestamp_tz,
    )

    def tsz(frac, tzh=21, tzm=90):  # +01:30
        return bytes(
            [120, 124, 4, 5, 20, 35, 39]
        ) + _struct.pack(">I", frac) + bytes([tzh, tzm])

    epoch = calendar.timegm((2024, 4, 5, 19, 34, 38, 0, 0, 0))
    b = tsz(123456789)
    # canonical default unchanged (pre-matrix byte compatibility)
    assert decode_timestamp_tz(b) == "2024-04-05 19:34:38.123456789 +01:30"
    assert decode_timestamp_tz(b, "unix_nano_string") == (
        f"{epoch * 10**9 + 123456789},+01:30"
    )
    assert decode_timestamp_tz(b, "unix_micro_string") == (
        f"{epoch * 10**6 + 123457},+01:30"
    )
    assert decode_timestamp_tz(b, "unix_milli_string") == (
        f"{epoch * 1000 + 123},+01:30"
    )
    assert decode_timestamp_tz(b, "unix_string") == f"{epoch},+01:30"
    assert decode_timestamp_tz(b, "iso8601_nano_tz") == (
        "2024-04-05T19:34:38.123456789Z +01:30"
    )
    assert decode_timestamp_tz(b, "iso8601_micro_tz") == (
        "2024-04-05T19:34:38.123457Z +01:30"
    )
    assert decode_timestamp_tz(b, "iso8601_milli_tz") == (
        "2024-04-05T19:34:38.123Z +01:30"
    )
    assert decode_timestamp_tz(b, "iso8601_tz") == (
        "2024-04-05T19:34:38Z +01:30"
    )
    assert decode_timestamp_tz(b, "iso8601_micro") == (
        "2024-04-05 19:34:38.123457 +01:30"
    )
    assert decode_timestamp_tz(b, "iso8601") == "2024-04-05 19:34:38 +01:30"
    # negative offset renders '-HH:MM'
    assert decode_timestamp_tz(
        tsz(0, tzh=15, tzm=60), "iso8601"
    ).endswith(" -05:00")

    # half-up rounding carries into the seconds (the reference's
    # fraction-overflow ++timestamp branches)
    hi = tsz(999_999_999)
    assert decode_timestamp_tz(hi, "iso8601_micro_tz") == (
        "2024-04-05T19:34:39.000000Z +01:30"
    )
    assert decode_timestamp_tz(hi, "iso8601") == "2024-04-05 19:34:39 +01:30"
    assert decode_timestamp_tz(hi, "unix_string") == f"{epoch + 1},+01:30"


def test_timestamp_tz_region_form():
    """Region-stored TSTZ (Builder.cpp:304-339): data[11] outside
    [5,36] means bytes 11..12 are a 16-bit key into the reference's
    timeZoneMap (Locales.cpp:40-640) -> IANA name; unknown keys render
    the reference's 'TZ?' fallback. The name substitutes for the offset
    in every TIMESTAMP_TZ_FORMAT variant."""
    import calendar
    import struct as _struct

    from openlogreplicator_spark.functions.oracle_types import (
        decode_timestamp_tz,
        encode_timestamp_tz,
    )

    def tsz(key):
        return (
            bytes([120, 124, 4, 5, 20, 35, 39])
            + _struct.pack(">I", 123456789)
            + bytes([key >> 8, key & 0xFF])
        )

    epoch = calendar.timegm((2024, 4, 5, 19, 34, 38, 0, 0, 0))
    # keys hand-read from Locales.cpp:40-640
    assert decode_timestamp_tz(tsz(0x80A8)) == (
        "2024-04-05 19:34:38.123456789 Africa/Abidjan"
    )
    assert decode_timestamp_tz(tsz(0x842C)) == (
        "2024-04-05 19:34:38.123456789 Asia/Tokyo"
    )
    assert decode_timestamp_tz(tsz(0xD004)) == (
        "2024-04-05 19:34:38.123456789 UTC"
    )
    # region name flows through the format variants unchanged
    assert decode_timestamp_tz(tsz(0x842C), "unix_nano_string") == (
        f"{epoch * 10**9 + 123456789},Asia/Tokyo"
    )
    assert decode_timestamp_tz(tsz(0x842C), "iso8601_micro_tz") == (
        "2024-04-05T19:34:38.123457Z Asia/Tokyo"
    )
    assert decode_timestamp_tz(tsz(0x842C), "iso8601") == (
        "2024-04-05 19:34:38 Asia/Tokyo"
    )
    # unknown key -> the reference's "TZ?" fallback
    assert decode_timestamp_tz(tsz(0xFFFE)) == (
        "2024-04-05 19:34:38.123456789 TZ?"
    )
    assert decode_timestamp_tz(tsz(0xBEEF), "unix_string") == (
        f"{epoch},TZ?"
    )
    # boundary: data[11]=5 and 36 are offset form, 4 and 37 are region
    base = bytes([120, 124, 4, 5, 20, 35, 39]) + _struct.pack(">I", 0)
    assert decode_timestamp_tz(base + bytes([5, 60])) == (
        "2024-04-05 19:34:38.000000000 -15:00"
    )
    assert decode_timestamp_tz(base + bytes([36, 60])) == (
        "2024-04-05 19:34:38.000000000 +16:00"
    )
    assert decode_timestamp_tz(base + bytes([4, 60])).endswith(" TZ?")
    assert decode_timestamp_tz(base + bytes([37, 60])).endswith(" TZ?")
    # fixture encoder round-trips all three forms
    for s in (
        "2024-04-05 19:34:38.123456789 Europe/Warsaw",
        "2024-04-05 19:34:38.123456789 TZ?",
        "2024-04-05 19:34:38.123456789 +05:30",
    ):
        assert decode_timestamp_tz(encode_timestamp_tz(s)) == s


def test_timezone_map_integrity():
    """The extracted map matches the reference's construction: 595
    unique keys (first occurrence wins on the 2 exact duplicates), no
    key's high byte inside the offset range [5,36]."""
    from openlogreplicator_spark.functions.tz_map import TIMEZONE_MAP

    assert len(TIMEZONE_MAP) == 595
    assert all(not (5 <= (k >> 8) <= 36) for k in TIMEZONE_MAP)
    assert TIMEZONE_MAP[0x80A8] == "Africa/Abidjan"
    assert TIMEZONE_MAP[0x88B8] == "Africa/Asmera"
    assert TIMEZONE_MAP[0x80B8] == "Africa/Asmara"


def test_column_unknown_malformed_matrix():
    """The 15 columnUnknown guard sites of Builder.cpp, ported into the
    typed kernels: every malformed byte class renders the UNKNOWN_FORMAT
    fallback ('?' by default, hex under DUMP) instead of a
    plausible-looking wrong value (Builder.cpp:169-613 guard sites;
    render Builder.h:395-405 / Format.h:177-180)."""
    import struct as _struct

    from openlogreplicator_spark.functions.oracle_types import (
        column_unknown,
        decode_boolean,
        decode_date,
        decode_interval_ds,
        decode_interval_ym,
        decode_number,
        decode_timestamp,
        decode_timestamp_ltz,
        decode_timestamp_tz,
        decode_urowid,
        encode_timestamp,
        encode_timestamp_tz,
    )

    # DATE/TIMESTAMP (Builder.cpp:213 size, :242 component ranges)
    ok = encode_timestamp("2024-03-05 10:11:12.000000123")
    assert decode_timestamp(ok) == "2024-03-05 10:11:12.000000123"
    month99 = ok[:2] + bytes([99]) + ok[3:]
    assert decode_timestamp(month99) == "?"          # the r9 '1916-99-01' probe
    hour0 = ok[:4] + bytes([0]) + ok[5:]
    assert decode_timestamp(hour0) == "?"            # hour byte 0 → hour -1
    day32 = ok[:3] + bytes([33]) + ok[4:]
    assert decode_timestamp(day32) == "?"
    assert decode_timestamp(ok[:9]) == "?"           # size ∉ {7, 11}
    assert decode_timestamp(ok[:7] + b"\x3b\x9a\xca\x00") == "?"  # frac 10^9
    assert decode_date(ok[:6]) == "?"
    assert decode_date(ok[:2] + bytes([13]) + ok[3:7]) == "?"

    # TIMESTAMP WITH TZ (Builder.cpp:274 size, :342 component ranges —
    # no fraction guard, faithfully)
    tz_ok = encode_timestamp_tz("2024-03-05 10:11:12.000000123 +05:30")
    assert decode_timestamp_tz(tz_ok[:9]) == "?"     # truncated image
    assert decode_timestamp_tz(tz_ok[:2] + bytes([99]) + tz_ok[3:]) == "?"
    assert decode_timestamp_tz(tz_ok[:4] + bytes([0]) + tz_ok[5:]) == "?"

    # TIMESTAMP WITH LOCAL TZ (Builder.cpp:169 size, :198 ranges+frac)
    ltz_ok = ok  # same 11-byte layout
    assert decode_timestamp_ltz(ltz_ok[:2] + bytes([99]) + ltz_ok[3:]) == "?"
    assert decode_timestamp_ltz(ltz_ok[:8]) == "?"

    # NUMBER (parseNumber 50009 path Builder.h:552-568; digit-range UB)
    assert decode_number(bytes([0xC2, 0xFF, 0x02])) == "?"   # mantissa 254
    assert decode_number(bytes([0xC2, 0x00, 0x02])) == "?"   # mantissa byte 0
    assert decode_number(bytes([0xC1])) == "?"               # lone header
    assert decode_number(bytes([0x3E, 0x01])) == "?"         # neg digit 100
    assert decode_number(b"\x00") == "0"                     # digits==0 → '0'
    assert decode_number(b"\x80") == "0"

    # INTERVAL YTM (Builder.cpp:356 size/month byte, :368 magnitude)
    assert decode_interval_ym(bytes([128, 0, 0, 1, 48])) == "?"
    assert decode_interval_ym(bytes([128, 0, 0, 1, 72])) == "?"
    assert decode_interval_ym(bytes([128, 0, 0, 1])) == "?"
    big_y = _struct.pack(">I", 0x80000000 + 1_000_000_000) + bytes([61])
    assert decode_interval_ym(big_y) == "?"

    # INTERVAL DTS (Builder.cpp:437 size/h/m/s bytes, :457 magnitudes)
    ids_ok = bytes([128, 0, 0, 1, 61, 62, 63, 128, 0, 0, 1])
    assert decode_interval_ds(ids_ok) is not None
    assert decode_interval_ds(ids_ok[:4] + bytes([36]) + ids_ok[5:]) == "?"
    assert decode_interval_ds(ids_ok[:5] + bytes([0]) + ids_ok[6:]) == "?"
    assert decode_interval_ds(ids_ok[:6] + bytes([120]) + ids_ok[7:]) == "?"
    assert decode_interval_ds(ids_ok[:10]) == "?"
    big_d = _struct.pack(">I", 0x80000000 + 1_000_000_000) + ids_ok[4:]
    assert decode_interval_ds(big_d) == "?"

    # BOOLEAN / UROWID (Builder.cpp:597 / :607)
    assert decode_boolean(b"\x02") == "?"
    assert decode_boolean(b"\x01\x00") == "?"
    assert decode_urowid(b"\x02" + bytes(12)) == "?"
    assert decode_urowid(b"\x01" + bytes(10)) == "?"

    # UNKNOWN_FORMAT::DUMP renders the byte image as hex — the engine's
    # established DUMP convention (json_builder._shape_unknown)
    assert decode_timestamp(month99, unknown="dump") == month99.hex()
    assert decode_number(bytes([0xC1]), unknown="dump") == "c1"
    assert column_unknown(b"\x01\x02", "dump") == "0102"
    assert column_unknown(b"\x01\x02") == "?"


def test_column_unknown_through_parse_plane():
    """Corrupt images planted via the fixture's '!CORRUPT!<hex>'
    sentinel flow through _enc_value → _dec_value_raw and the
    vectorized _batch_decode fast paths, rendering the fallback."""
    from openlogreplicator_spark.functions.oracle_types import (
        encode_timestamp,
    )
    from openlogreplicator_spark.sources.binary_redo import (
        CORRUPT_SENTINEL,
        DB_TZ_DEFAULT,
        TYPE_BFLOAT,
        TYPE_BOOL,
        TYPE_DATE,
        TYPE_NUMBER,
        TYPE_TS,
        TYPE_TSTZ,
        _batch_decode,
        _dec_value_raw,
        _enc_value,
    )

    def img(vtype, hexpayload):
        enc = _enc_value(CORRUPT_SENTINEL + hexpayload, vtype)
        # strip the u16 length prefix → tagged bytes as the walk sees them
        return enc[2:]

    ok = encode_timestamp("2024-03-05 10:11:12.000000123")
    month99 = (ok[:2] + bytes([99]) + ok[3:]).hex()
    assert _dec_value_raw(img(TYPE_TS, month99), 5, DB_TZ_DEFAULT) == "?"
    assert _dec_value_raw(img(TYPE_NUMBER, "c2ff02"), 5, DB_TZ_DEFAULT) == "?"
    assert _dec_value_raw(img(TYPE_TSTZ, ok[:9].hex()), 5, DB_TZ_DEFAULT) == "?"
    assert _dec_value_raw(img(TYPE_BOOL, "05"), 5, DB_TZ_DEFAULT) == "?"
    assert _dec_value_raw(img(TYPE_BFLOAT, "c0ffee"), 5, DB_TZ_DEFAULT) == "?"

    # vectorized fast path: >16 same-size TS images, some corrupt —
    # the validity mask must route corrupt rows to the fallback
    goods = [
        bytes([TYPE_TS]) + encode_timestamp(f"2024-03-{d:02d} 10:11:12.5")
        for d in range(1, 25)
    ]
    bad_ts = bytes([TYPE_TS]) + ok[:2] + bytes([99]) + ok[3:]
    bad_hour = bytes([TYPE_TS]) + ok[:4] + bytes([0]) + ok[5:]
    out = _batch_decode(goods + [bad_ts, bad_hour], 5, DB_TZ_DEFAULT)
    assert out[bad_ts] == "?"
    assert out[bad_hour] == "?"
    assert out[goods[0]] == "2024-03-01 10:11:12.500000000"

    # DATE fast path (8-byte tagged images)
    dgoods = [
        bytes([TYPE_DATE]) + encode_timestamp(f"2024-03-{d:02d} 10:11:12")[:7]
        for d in range(1, 25)
    ]
    bad_date = bytes([TYPE_DATE]) + ok[:2] + bytes([99]) + ok[3:7]
    dout = _batch_decode(dgoods + [bad_date], 5, DB_TZ_DEFAULT)
    assert dout[bad_date] == "?"
    assert dout[dgoods[0]] == "2024-03-01 10:11:12"


def test_batch_decode_out_of_range_years_match_scalar_kernel():
    """r12 review-pass-6 regression: the vectorized DATE/TS fast path
    (>16 same-size images) silently rendered plausible-but-wrong dates
    for years outside 0..9999 — a legal BC date (year -4712) became
    '5288-03-15 …' and year 12010 became '2010-03-15 …' — while the
    scalar kernel renders '-4712-…'/'12010-…' faithfully. The mask now
    routes years the 14-digit matrix can't represent to the scalar
    kernel; EVERY image must decode byte-identically on both routes."""
    from openlogreplicator_spark.functions.oracle_types import (
        decode_date,
        decode_timestamp,
        encode_timestamp,
    )
    from openlogreplicator_spark.sources.binary_redo import (
        DB_TZ_DEFAULT,
        TYPE_DATE,
        TYPE_TS,
        _batch_decode,
    )

    base = encode_timestamp("2024-03-15 10:20:30.000000123")
    # century/year bytes: BC year -4712 (53, 88), AD year 12010 (220, 110),
    # plus the boundary years 0 (100, 100) and 9999 (199, 199)
    variants = [bytes([c, y]) + base[2:] for c, y in
                [(53, 88), (220, 110), (100, 100), (199, 199)]]
    goods = [encode_timestamp(f"2024-03-{d:02d} 10:20:30.5")
             for d in range(1, 25)]

    ts_imgs = [bytes([TYPE_TS]) + b for b in goods + variants]
    tout = _batch_decode(ts_imgs, 5, DB_TZ_DEFAULT)
    for img in ts_imgs:
        assert tout[img] == decode_timestamp(img[1:]), img.hex()
    # BC renders are epoch-derived through the reference's BC branch
    # (valuesToEpoch BC base + fraction flip + epochToIso8601's
    # inverted-day scan), which mirrors the stored time of day — the
    # reference's actual output, pinned from the exact port
    assert tout[bytes([TYPE_TS]) + variants[0]] == (
        "-4712-03-16 13:39:31.999999877"
    )
    assert tout[bytes([TYPE_TS]) + variants[1]].startswith("12010-03-15")

    d_imgs = [bytes([TYPE_DATE]) + b[:7] for b in goods + variants]
    dout = _batch_decode(d_imgs, 5, DB_TZ_DEFAULT)
    for img in d_imgs:
        assert dout[img] == decode_date(img[1:]), img.hex()
    assert dout[bytes([TYPE_DATE]) + variants[0][:7]] == (
        "-4712-03-16 13:39:30"
    )
    assert dout[bytes([TYPE_DATE]) + variants[3][:7]] == "9999-03-15 10:20:30"


def test_review_pass_r10_guard_edge_cases():
    """r10 review-pass regressions: (1) calendar-impossible-but-byte-
    valid images (Feb 30) and out-of-strptime-window years must RENDER
    (civil arithmetic, like the reference's valuesToEpoch), never crash
    a Spark task; (2) the TSTZ iso render must not leak the TIMESTAMP
    kernel's fraction guard into a hybrid '? <tz>' (the reference
    checks no fraction for TSTZ, Builder.cpp:340-344)."""
    from openlogreplicator_spark.functions.oracle_types import (
        decode_timestamp_ltz,
        decode_timestamp_tz,
        encode_timestamp_tz,
    )

    # Feb 30 2024, db tz +02:00 → civil-normalized Mar 1 minus 2h
    assert decode_timestamp_ltz(bytes([120, 124, 2, 30, 1, 1, 1])) == (
        "2024-02-29 22:00:00.000000000"
    )
    # corrupt year bytes → a rendered (wrong-looking but non-crashing)
    # value, exactly like the reference's unguarded year arithmetic
    assert decode_timestamp_ltz(bytes([0, 100, 6, 1, 11, 1, 1]))

    b = encode_timestamp_tz("2024-03-05 10:11:12.000000123 +05:30")
    bad_frac = b[:7] + b"\xff\xff\xff\xff" + b[11:]
    out = decode_timestamp_tz(bad_frac)
    assert out == "2024-03-05 10:11:12.4294967295 +05:30"
    assert decode_timestamp_tz(bad_frac, unknown="dump") == out


def test_review_pass_r10_fast_path_and_sentinel():
    """(3) the vectorized TS fast path must honor TIMESTAMP_FORMAT —
    only iso8601_nano may take the numpy render; (4) the '!CORRUPT!'
    encoder sentinel applies to TYPED tags only — a plain string value
    starting with the literal is user data, not a corruption plant."""
    from openlogreplicator_spark.functions.oracle_types import (
        encode_timestamp,
    )
    from openlogreplicator_spark.sources.binary_redo import (
        DB_TZ_DEFAULT,
        DecodeOpts,
        TYPE_STR,
        TYPE_TS,
        _batch_decode,
        _dec_value_raw,
        _enc_value,
    )

    goods = [
        bytes([TYPE_TS]) + encode_timestamp(f"2024-03-{d:02d} 10:11:12.5")
        for d in range(1, 25)
    ]
    unix = _batch_decode(goods, 5, DecodeOpts(0, timestamp_column="unix_nano"))
    assert all(v.isdigit() for v in unix.values())
    iso = _batch_decode(goods, 5, DecodeOpts(0))
    assert iso[goods[0]] == "2024-03-01 10:11:12.500000000"

    enc = _enc_value("!CORRUPT!ed data", TYPE_STR)
    assert _dec_value_raw(enc[2:], 5, DB_TZ_DEFAULT) == "!CORRUPT!ed data"


def test_kernels_never_raise_on_arbitrary_bytes():
    """r10 fuzz contract: no typed kernel and no parse-plane dispatch
    may RAISE on arbitrary bytes — a torn redo image renders the
    UNKNOWN_FORMAT fallback (or a replacement character for text), it
    never kills the Spark task. This is the columnUnknown work's
    load-bearing property; the fuzz that created it found the
    TYPE_STR invalid-UTF-8 and CSTEXT charset-index crash classes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from openlogreplicator_spark.functions import oracle_types as ot
    from openlogreplicator_spark.sources.binary_redo import (
        DB_TZ_DEFAULT,
        _dec_value_raw,
    )

    decoders = (
        ot.decode_number, ot.decode_date, ot.decode_timestamp,
        ot.decode_timestamp_tz, ot.decode_timestamp_ltz,
        ot.decode_interval_ym, ot.decode_interval_ds, ot.decode_boolean,
        ot.decode_urowid, ot.decode_binary_float, ot.decode_binary_double,
        lambda b: ot.charset_decode(b, "ZHS16GBK"),
        lambda b: ot.charset_decode(b, "UTF8"),
    )

    @settings(max_examples=400, deadline=None)
    @given(st.binary(min_size=0, max_size=20))
    def scalar_kernels(b):
        for fn in decoders:
            out = fn(b)
            assert out is None or isinstance(out, (str, float))

    @settings(max_examples=400, deadline=None)
    @given(st.binary(min_size=0, max_size=20))
    def dispatcher(tagged):  # min_size=0: the empty interned image too
        out = _dec_value_raw(tagged, 5, DB_TZ_DEFAULT)
        assert out is None or isinstance(out, str)

    scalar_kernels()
    dispatcher()


def test_timestamp_format_matrix_reaches_tsltz_and_date():
    """r12 review-pass-9: the reference renders TSLTZ and DATE through
    the SAME columnTimestamp TIMESTAMP_FORMAT matrix as TIMESTAMP
    (Builder.cpp:205 / 210-249) — both kernels previously ignored the
    selector. Also pins the BC fraction flip (Builder.cpp:200-203:
    'fraction = 1e9 - fraction; --timestamp' for year < 0) and the
    BC-base epoch (valuesToEpoch's 365-days-earlier anchor, year 0
    absent)."""
    from openlogreplicator_spark.functions.oracle_types import (
        decode_timestamp,
        decode_timestamp_ltz,
        encode_timestamp,
    )
    from openlogreplicator_spark.sources.binary_redo import (
        DecodeOpts,
        TYPE_DATE,
        TYPE_TSLTZ,
        _dec_value_raw,
    )

    b = encode_timestamp("2024-03-15 10:20:30.000000123")
    # TSLTZ honors the selector (db tz +02:00 shifts the epoch)
    assert decode_timestamp_ltz(b, 7200, fmt="unix_nano") == (
        "1710490830000000123"
    )
    assert decode_timestamp_ltz(b, 7200) == (
        "2024-03-15 08:20:30.000000123"
    )
    unix_opts = DecodeOpts(7200, timestamp_column="unix_nano")
    assert _dec_value_raw(bytes([TYPE_TSLTZ]) + b, 5, unix_opts) == (
        "1710490830000000123"
    )
    # DATE honors the selector; canonical iso keeps the fraction-less
    # DATE text
    assert _dec_value_raw(bytes([TYPE_DATE]) + b[:7], 5, unix_opts) == (
        "1710498030000000000"
    )
    assert _dec_value_raw(
        bytes([TYPE_DATE]) + b[:7], 5, DecodeOpts(7200)
    ) == "2024-03-15 10:20:30"

    # BC epoch + flip under unix_nano: year -4712 (bytes 53, 88)
    bc = bytes([53, 88]) + b[2:]
    assert decode_timestamp(bc, "unix_nano") == "-210825466770000000123"
    # no fraction → no flip, epoch only
    bc0 = bytes([53, 88]) + b[2:7] + b"\x00\x00\x00\x00"
    assert decode_timestamp(bc0, "unix_nano") == "-210825466770000000000"


@settings(max_examples=300, deadline=None)
@given(
    st.integers(1, 9999), st.integers(1, 12), st.integers(1, 28),
    st.integers(0, 23), st.integers(0, 59), st.integers(0, 59),
)
def test_ad_epoch_render_matches_component_render(y, mo, d, h, mi, s):
    """Internal-consistency property for the r12 epoch rewrite: for any
    valid AD date, the epoch-based ISO render (valuesToEpoch port →
    _iso_from_epoch) must reproduce the byte-pinned component render
    (decode_date's fast path) exactly — the two derivations share no
    code for the day arithmetic."""
    from openlogreplicator_spark.functions.oracle_types import (
        _civil_epoch_seconds,
        _iso_from_epoch,
        decode_date,
    )

    b = bytes([y // 100 + 100, y % 100 + 100, mo, d, h + 1, mi + 1, s + 1])
    assert _iso_from_epoch(_civil_epoch_seconds(b), False) == decode_date(b)


@settings(max_examples=300, deadline=None)
@given(st.binary(min_size=4, max_size=4), st.binary(min_size=8, max_size=8))
def test_float_ports_match_ieee_for_normals(b4, b8):
    """Differential property for the decodeFloat/decodeDouble ports:
    on NORMAL-exponent images the reference formula reduces to the
    plain IEEE value, so the port must agree with struct.unpack bit
    for bit; edge exponents (zeros/subnormals/inf/NaN) are excluded
    here — their reference-specific semantics are pinned separately."""
    import struct

    from openlogreplicator_spark.functions.oracle_types import (
        decode_binary_double,
        decode_binary_float,
    )

    def norm(raw):
        if raw[0] & 0x80:
            return bytes([raw[0] & 0x7F]) + raw[1:]
        return bytes(x ^ 0xFF for x in raw)

    exp4 = ((norm(b4)[0] & 0x7F) << 1) | (norm(b4)[1] >> 7)
    if 0 < exp4 < 0xFF:
        assert decode_binary_float(b4) == struct.unpack(">f", norm(b4))[0]
    exp8 = ((norm(b8)[0] & 0x7F) << 4) | (norm(b8)[1] >> 4)
    if 0 < exp8 < 0x7FF:
        assert decode_binary_double(b8) == struct.unpack(">d", norm(b8))[0]
