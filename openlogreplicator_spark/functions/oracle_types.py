"""Oracle on-disk type decode kernels.

Byte-level decoders for the value encodings the reference extracts from
redo vectors. The binary parse plane (sources/binary_redo.py) calls them
once per distinct column image — the designated slow path, like the
reference's per-column decode loop.

Reference semantics mirrored:
- NUMBER   base-100 mantissa/exponent, negative via complement + 0x66
           terminator            (src/builder/Builder.h:422-568)
- DATE     7-byte excess-100 century/year, 1-based month/day, excess-1
           h/m/s                 (src/builder/Builder.cpp:210-252)
- TIMESTAMP 11-byte DATE + big-endian nanoseconds
                                 (src/builder/Builder.cpp:210-252)
- TIMESTAMP WITH TZ 13-byte: offset form tzh+20/tzm+60 when data[11]
           in [5,36], else 16-bit region key -> IANA name via the
           public timeZoneMap, 'TZ?' fallback
                                 (src/builder/Builder.cpp:272-353;
                                  src/locales/Locales.cpp:40-640)
- INTERVAL YM 5-byte excess-2^31 years + excess-60 months
                                 (src/builder/Builder.cpp:354-434)
- INTERVAL DS 11-byte excess-2^31 days/nanos + excess-60 h/m/s
                                 (src/builder/Builder.cpp:435-590)
- ROWID    18-char base-64 render of (dataObj, afn, block, slot)
                                 (src/common/types/RowId.h:1-274)
- BINARY_FLOAT/DOUBLE sign-flipped IEEE big-endian
                                 (src/builder/Builder.cpp:258-270)
- RAW      hex passthrough       (src/builder/Builder.cpp:254-256)
- charset decode: UTF-8/8-bit table charsets via codecs; HEX/NOMAPPING
  passthrough modes             (src/locales/*, Format.h:42-46)
"""

from __future__ import annotations

import datetime as _dt
import math
import struct


from openlogreplicator_spark.functions.tz_map import TIMEZONE_MAP, TZ_UNKNOWN

# region NAME -> a 16-bit key that decodes back to it (first-wins, like
# the reference's map construction); used only by the fixture encoder.
_TZ_NAME_TO_KEY: dict[str, int] = {}
for _k, _v in TIMEZONE_MAP.items():
    _TZ_NAME_TO_KEY.setdefault(_v, _k)
# an on-disk key the reference's map does not contain → renders "TZ?"
_TZ_KEY_UNKNOWN = 0xFFFE
assert _TZ_KEY_UNKNOWN not in TIMEZONE_MAP

# ---------------------------------------------------------------------------
# scalar (pure-Python) kernels
# ---------------------------------------------------------------------------


# base-100 digit → two-character decimal rendering, precomputed once:
# the NUMBER kernel runs per column image in the binary parse plane, so
# per-digit f-string formatting is measurable at millions of values
_D2 = tuple(f"{i:02d}" for i in range(101))


def column_unknown(b: bytes, unknown: str = "question") -> str:
    """Malformed-byte fallback render — the reference's columnUnknown
    (Builder.h:395-405): every typed decode validates its component
    ranges and routes out-of-range images here instead of emitting a
    plausible-looking wrong value. UNKNOWN_FORMAT (Format.h:177-180)
    selects the render: QUESTION_MARK → '?'; DUMP → the original byte
    image as lowercase hex (this engine's established DUMP convention,
    matching the builder-level UNKNOWN_TYPE shaping in
    json_builder._shape_unknown — the reference renders '?' and logs
    the hex dump as warning 60002; here the dump IS the value so it
    survives the distributed plan without a side-channel log)."""
    if unknown == "dump":
        return bytes(b).hex()
    return "?"


def decode_number(b: bytes | None, unknown: str = "question") -> str | None:
    """Oracle NUMBER → canonical decimal string.

    Malformed images (a lone non-zero header byte, or any mantissa byte
    outside the base-100 digit range) route to :func:`column_unknown`
    instead of rendering garbage — the reference validates the header
    (parseNumber's else-branch, Builder.h:552-568; a corrupt header
    throws 50009 and kills the replication; this engine renders the
    unknown fallback so one torn value cannot stop the stream) and its
    digit arithmetic assumes bytes in range (map10 indexing,
    Builder.h:436-468 — out-of-range bytes are UB there, '?' here)."""
    if b is None or len(b) == 0:
        return None
    b = bytes(b)
    if b == b"\x80":
        return "0"
    b0 = b[0]
    if len(b) == 1:
        # parseNumber else-branch: digits==0 renders '0'; any other
        # lone header is the 50009 error path (Builder.h:552-568)
        return "0" if b0 == 0 else column_unknown(b, unknown)
    d2 = _D2
    if b0 & 0x80:  # positive: exponent = (b0 & 0x7f) - 65, digits = byte-1
        exp = (b0 & 0x7F) - 65
        if any(x < 1 or x > 100 for x in b[1:]):
            return column_unknown(b, unknown)
        ds = [d2[x - 1] for x in b[1:]]
        sign = ""
    else:  # negative: exponent = 62 - b0, digits = 101-byte, 0x66 terminator
        exp = 62 - b0
        payload = b[1:]
        if payload and payload[-1] == 0x66:
            payload = payload[:-1]
        if any(x < 2 or x > 101 for x in payload):
            return column_unknown(b, unknown)
        ds = [d2[101 - x] for x in payload]
        sign = "-"
    if not ds:
        return sign + "0"
    # digit-pair i has weight 100^(exp - i)
    if exp < 0:
        frac = ("00" * (-exp - 1) + "".join(ds)).rstrip("0") or "0"
        return f"{sign}0.{frac}"
    int_ds = ds[: exp + 1]
    frac_ds = ds[exp + 1:]
    int_part = (
        (int_ds[0].lstrip("0") or "0")
        + "".join(int_ds[1:])
        + "00" * (exp + 1 - len(int_ds))
    )
    frac = "".join(frac_ds).rstrip("0")
    return f"{sign}{int_part}.{frac}" if frac else sign + int_part


def encode_number(value: str) -> bytes:
    """Inverse of decode_number (test fixture generator)."""
    from decimal import Decimal

    d = Decimal(value)
    if d == 0:
        return b"\x80"
    neg = d < 0
    d = abs(d)
    # normalize to base-100 digits
    exp = 0
    while d >= 100:
        d /= 100
        exp += 1
    while d < 1:
        d *= 100
        exp -= 1
    digits: list[int] = []
    for _ in range(20):
        di = int(d)
        digits.append(di)
        d = (d - di) * 100
        if d == 0:
            break
    while digits and digits[-1] == 0:
        digits.pop()
    if neg:
        out = bytes([62 - exp] + [101 - x for x in digits])
        if len(out) < 21:
            out += b"\x66"
        return out
    return bytes([193 + exp] + [x + 1 for x in digits])


def encode_date(s: str) -> bytes:
    """Inverse of decode_date: 'YYYY-MM-DD HH:MM:SS' → the 7-byte Oracle
    DATE form (excess-100 century/year, 1-based month/day, excess-1
    h/m/s — Builder.cpp:210-252). Fixture-writer side of the kernel pair
    so the parse plane exercises the decoder end-to-end."""
    d = _dt.datetime.strptime(s[:19], "%Y-%m-%d %H:%M:%S")
    return bytes(
        [
            d.year // 100 + 100,
            d.year % 100 + 100,
            d.month,
            d.day,
            d.hour + 1,
            d.minute + 1,
            d.second + 1,
        ]
    )


def encode_timestamp(s: str) -> bytes:
    """Inverse of decode_timestamp: 11-byte form = 7-byte DATE + big-endian
    nanoseconds."""
    nanos = 0
    if "." in s:
        frac = s.split(".", 1)[1]
        nanos = int(frac.ljust(9, "0")[:9])
    return encode_date(s[:19]) + struct.pack(">I", nanos)


def _dt_components_valid(b: bytes) -> bool:
    """The reference's date/time component range check
    (Builder.cpp:242-246 / 340-344): month 0..11, day 0..30, hour
    0..23, minute/second 0..59 after the excess adjustments. A byte
    outside its range means a torn/corrupt image — render unknown, not
    a plausible wrong date."""
    return (
        1 <= b[2] <= 12
        and 1 <= b[3] <= 31
        and 1 <= b[4] <= 24
        and 1 <= b[5] <= 60
        and 1 <= b[6] <= 60
    )


def decode_date(b: bytes | None, unknown: str = "question") -> str | None:
    """7-byte Oracle DATE → 'YYYY-MM-DD HH:MM:SS' (keeps time of day).
    Size/component violations render per UNKNOWN_FORMAT. The 11-byte
    form is accepted because the reference decodes DATE and TIMESTAMP
    in ONE case arm admitting both sizes (Builder.cpp:211-246); its
    fraction bytes are range-checked like that arm does (>999999999 →
    unknown) but not rendered — the canonical DATE text has no
    fraction (TYPE_TS is the fraction-bearing tag)."""
    if b is None or len(b) == 0:
        return None
    b = bytes(b)
    frac = struct.unpack(">I", b[7:11])[0] if len(b) == 11 else 0
    if (
        len(b) not in (7, 11)
        or not _dt_components_valid(b)
        or frac > 999_999_999
    ):
        return column_unknown(b, unknown)
    year = (b[0] - 100) * 100 + (b[1] - 100)
    if year < 1:
        # the reference's one DATE/TIMESTAMP arm routes BC (and year-0)
        # values through valuesToEpoch + the epochToIso8601 BC branch
        # (Builder.cpp:210-249) — the rendered text is epoch-derived,
        # not component-derived (r12 review-pass-9); the canonical DATE
        # text still carries no fraction digits (adjudicated)
        return _iso_from_epoch(_civil_epoch_seconds(b), False)
    return (
        f"{year:04d}-{b[2]:02d}-{b[3]:02d} "
        f"{b[4] - 1:02d}:{b[5] - 1:02d}:{b[6] - 1:02d}"
    )


def decode_timestamp(
    b: bytes | None, fmt: str = "iso8601_nano", unknown: str = "question"
) -> str | None:
    """11-byte TIMESTAMP rendered per TIMESTAMP_FORMAT —
    BuilderJson::columnTimestamp's full 16-variant matrix
    (BuilderJson.cpp:104-278): UNIX-scaled epochs with half-up
    rounding, 'T'-separated ISO8601*_TZ forms with the Z suffix,
    space-separated bare ISO forms. The default iso8601_nano is this
    engine's canonical form (byte-identical to the pre-matrix
    rendering). Fidelity note: the plain UNIX variants differ from
    their *_STRING twins only in JSON quoting, which this engine's
    string-image pipeline applies uniformly — both map to the same
    digit text (same convention as the interval kernels). Size 7/11 and
    the component ranges are validated like the reference
    (Builder.cpp:211-246); a >999999999 fraction is likewise the
    corrupt-image signal (Builder.cpp:242-246) — both render per
    UNKNOWN_FORMAT."""
    if b is None or len(b) == 0:
        return None
    b = bytes(b)
    frac = struct.unpack(">I", b[7:11])[0] if len(b) >= 11 else 0
    if (
        len(b) not in (7, 11)
        or not _dt_components_valid(b)
        or frac > 999_999_999
    ):
        return column_unknown(b, unknown)
    year = (b[0] - 100) * 100 + (b[1] - 100)
    if fmt == "iso8601_nano" and year >= 1:
        # byte-pinned canonical fast path; years < 1 must take the
        # epoch route so the BC fraction flip and the reference's BC
        # render branch apply (r12 review-pass-9)
        return f"{decode_date(b[:7])}.{frac:09d}"
    epoch, frac = _bc_flip(year, _civil_epoch_seconds(b), frac)
    return _render_ts_body(epoch, frac, fmt)


def _bc_flip(year: int, epoch: int, frac: int) -> tuple:
    """Builder.cpp:200-203 / 245-248 / 345-348 (all three timestamp
    arms): for BC values the stored fraction is subtractive —
    'fraction = 1000000000 - fraction; --timestamp' whenever year < 0
    and fraction > 0. The reference's fraction is a uint64, so an
    oversized TSTZ fraction (which has no validity guard there) wraps
    modulo 2^64 — reproduced so the rendered digits match."""
    if year < 0 and frac > 0:
        frac = (1_000_000_000 - frac) % 2**64
        epoch -= 1
    return epoch, frac


def _render_ts_body(epoch: int, frac: int, fmt: str) -> str:
    """TIMESTAMP_FORMAT epoch-based render tail shared by the three
    timestamp kernels (BuilderJson::columnTimestamp's matrix,
    BuilderJson.cpp:104-278): UNIX scaled epochs with half-up rounding,
    ISO bodies with fraction carry, 'T'/'Z' on the *_tz variants. One
    copy — the rounding/overflow logic previously existed verbatim in
    both the TIMESTAMP and TSTZ kernels (r12 review-pass-9)."""
    if fmt in ("unix_nano", "unix_nano_string"):
        return str(epoch * 10**9 + frac)
    if fmt in ("unix_micro", "unix_micro_string"):
        return str(epoch * 10**6 + (frac + 500) // 1000)
    if fmt in ("unix_milli", "unix_milli_string"):
        return str(epoch * 1000 + (frac + 500_000) // 10**6)
    if fmt in ("unix", "unix_string"):
        return str(epoch + (frac + 500_000_000) // 10**9)
    t_sep = fmt.endswith("_tz")
    digits = (9 if "nano" in fmt else 6 if "micro" in fmt
              else 3 if "milli" in fmt else 0)
    if digits:
        scale = 10 ** (9 - digits)
        f2 = frac if digits == 9 else (frac + scale // 2) // scale
        if f2 >= 10**digits:
            f2 -= 10**digits
            epoch += 1
        body = f"{_iso_from_epoch(epoch, t_sep)}.{f2:0{digits}d}"
    else:
        if frac >= 500_000_000:
            epoch += 1
        body = _iso_from_epoch(epoch, t_sep)
    return f"{body}Z" if t_sep else body


# the reference's epoch anchors (Data.h:30-33): days from its year-0
# base to 1970-01-01; the BC base sits 365 days earlier because year 0
# does not exist in the Oracle calendar
_UNIX_AD1970 = 62_167_132_800
_UNIX_BC1970 = _UNIX_AD1970 - 365 * 86400
_CUM_DAYS = (0, 31, 59, 90, 120, 151, 181, 212, 243, 273, 304, 334)
_CUM_DAYS_LEAP = (0, 31, 60, 91, 121, 152, 182, 213, 244, 274, 305, 335)


def _is_leap(y: int) -> bool:
    return y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)


def _year_to_days(year: int, month0: int) -> int:
    # Data.h:35-41 (AD); all callers pass year >= 0, so Python's floor
    # division matches C's truncation
    r = year * 365 + year // 4 - year // 100 + year // 400
    if _is_leap(year) and month0 < 2:
        r -= 1
    return r


def _year_to_days_bc(year: int, month0: int) -> int:
    # Data.h:43-49 (BC; year is the POSITIVE magnitude)
    r = year * 365 + year // 4 - year // 100 + year // 400
    if _is_leap(year) and month0 >= 2:
        r -= 1
    return r


def _civil_epoch_seconds(b: bytes) -> int:
    """Shared epoch arithmetic of the three timestamp kernels: 7-byte
    excess-100 century/year + 1-based month/day + excess-1 h/m/s →
    seconds since 1970-01-01 — the reference's valuesToEpoch
    (Data.cpp:165-188) ported exactly, BOTH branches: AD uses the
    year-0 day base, BC uses the 365-days-earlier base (year 0 does not
    exist) with yearToDaysBC's inverted leap adjustment. Pure integers,
    so calendar-impossible byte-valid images normalize arithmetically
    and BC years carry the reference's exact epoch (the previous
    Hinnant-only arithmetic sat 366/367 days off for every BC year —
    r12 review-pass-9)."""
    year = (b[0] - 100) * 100 + (b[1] - 100)
    month0 = b[2] - 1
    tod = (b[4] - 1) * 3600 + (b[5] - 1) * 60 + (b[6] - 1)
    if year > 0:
        days = _year_to_days(year, month0) + _CUM_DAYS[month0 % 12] + (
            b[3] - 1
        )
        return days * 86400 + tod - _UNIX_AD1970
    days = -_year_to_days_bc(-year, month0) + _CUM_DAYS[month0 % 12] + (
        b[3] - 1
    )
    return days * 86400 + tod - _UNIX_BC1970


def _civil_from_days(z: int) -> tuple:
    era = (z + 719468 if z + 719468 >= 0 else z + 719468 - 146096) // 146097
    doe = z + 719468 - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + (3 if mp < 10 else -9)
    return y + (m <= 2), m, d


def _iso_from_epoch(epoch: int, t_sep: bool) -> str:
    sep = "T" if t_sep else " "
    ts = epoch + _UNIX_AD1970
    if ts < 365 * 86400:
        # the reference's BC render branch (Data.cpp:271-335,
        # epochToIso8601): taken for every timestamp below year 1's
        # start (year 0 included — it renders as '-0000-…' there too).
        # Ported exactly — including its year scan over yearToDaysBC
        # and the day/27 month seed — so BC text matches the reference
        # byte for byte (r12 review-pass-9). Timestamps below the
        # reference's BC4712 floor would THROW there (RuntimeException
        # 10069, killing the process); rendering through the same
        # arithmetic instead is this engine's documented
        # never-crash-a-task divergence.
        ts = 365 * 86400 - ts
        s = ts % 60
        ts //= 60
        mi = ts % 60
        ts //= 60
        h = ts % 24
        ts //= 24
        year = max(ts // 366 - 1, 0)
        day = _year_to_days_bc(year, 0)
        while day < ts:
            year += 1
            day = _year_to_days_bc(year, 0)
        day -= ts
        month = min(day // 27, 11)
        cum = _CUM_DAYS_LEAP if _is_leap(year) else _CUM_DAYS
        while cum[month] > day:
            month -= 1
        day -= cum[month]
        return (
            f"-{year:04d}-{month + 1:02d}-{day + 1:02d}{sep}"
            f"{h:02d}:{mi:02d}:{s:02d}"
        )
    days, rem = divmod(epoch, 86400)
    y, mo, d = _civil_from_days(days)
    return (
        f"{y:04d}-{mo:02d}-{d:02d}{sep}"
        f"{rem // 3600:02d}:{(rem % 3600) // 60:02d}:{rem % 60:02d}"
    )


def decode_timestamp_tz(
    b: bytes | None, fmt: str = "iso8601_nano", unknown: str = "question"
) -> str | None:
    """13-byte TIMESTAMP WITH TIME ZONE (offset form) rendered per
    TIMESTAMP_TZ_FORMAT (Format.h:31-44; BuilderJson::columnTimestampTz,
    BuilderJson.cpp:281-450): the four UNIX_*_STRING variants emit
    '<scaled-epoch>,<tz>' (half-up rounding like the reference), the
    ISO8601*_TZ variants 'YYYY-MM-DDTHH:MM:SS[.f]Z <tz>', the bare
    ISO8601* variants 'YYYY-MM-DD HH:MM:SS[.f] <tz>'. The default
    iso8601_nano is this engine's canonical form (byte-identical to the
    pre-matrix rendering). The tz component follows the reference's
    offset-vs-region branch (Builder.cpp:304-339): data[11] in [5,36]
    is the '±HH:MM' offset form; anything else is a region key
    (data[11]<<8 | data[12]) resolved through the public timeZoneMap
    (Locales.cpp:40-640) to an IANA name, with the reference's 'TZ?'
    fallback for keys the map lacks.

    Malformed images render per UNKNOWN_FORMAT: component ranges follow
    Builder.cpp:340-344 (the reference checks second/minute/hour/day/
    month but — faithfully — NOT the fraction for TSTZ); only the
    13-byte form is accepted. The reference's size test admits 9 bytes
    too (Builder.cpp:274) but then unconditionally reads the tz bytes
    at data[11]/data[12] — past the end of a 9-byte image, i.e.
    undefined behavior with no output to match — so a truncated image
    routes to the unknown render here."""
    if b is None or len(b) == 0:
        return None
    b = bytes(b)
    if len(b) != 13 or not _dt_components_valid(b):
        return column_unknown(b, unknown)
    frac = struct.unpack(">I", b[7:11])[0]
    if 5 <= b[11] <= 36:
        tzh = b[11] - 20
        tzm = b[12] - 60
        sign = "+" if (tzh > 0 or (tzh == 0 and tzm >= 0)) else "-"
        tz = f"{sign}{abs(tzh):02d}:{abs(tzm):02d}"
    else:
        tz = TIMEZONE_MAP.get((b[11] << 8) | b[12], TZ_UNKNOWN)
    year = (b[0] - 100) * 100 + (b[1] - 100)
    if fmt == "iso8601_nano" and year >= 1:
        # direct render, NOT through decode_timestamp: the TSTZ case
        # faithfully has NO fraction guard (Builder.cpp:340-344), so
        # delegating would leak the TIMESTAMP kernel's fraction check
        # and emit a hybrid '? <tz>'; years < 1 take the epoch route
        # (BC flip + the reference's BC render branch)
        return f"{decode_date(b[:7])}.{frac:09d} {tz}"
    epoch, frac = _bc_flip(year, _civil_epoch_seconds(b), frac)
    if fmt == "unix_nano_string":
        return f"{epoch * 10**9 + frac},{tz}"
    if fmt == "unix_micro_string":
        return f"{epoch * 10**6 + (frac + 500) // 1000},{tz}"
    if fmt == "unix_milli_string":
        return f"{epoch * 1000 + (frac + 500_000) // 10**6},{tz}"
    if fmt == "unix_string":
        return f"{epoch + (frac + 500_000_000) // 10**9},{tz}"
    return f"{_render_ts_body(epoch, frac, fmt)} {tz}"


# INTERVAL render variants (Format.h:54-74; render loops
# Builder.cpp:354-434 YTM / 435-590 DTS). The *_STRING unix variants
# differ from the plain ones only in JSON quoting, which this engine's
# string-image pipeline applies uniformly — both map to the same text.
_YTM_SEP = {"string_ym_space": " ", "string_ym_comma": ",",
            "string_ym_dash": "-"}
_DTS_SEP = {"iso8601_space": " ", "iso8601_comma": ",", "iso8601_dash": "-"}


def decode_interval_ym(
    b: bytes | None, fmt: str = "string_ym_dash", unknown: str = "question"
) -> str | None:
    """5-byte INTERVAL YEAR TO MONTH → text per INTERVAL_YTM_FORMAT:
    'months' (total month count, Builder.cpp:386-401) or
    'string_ym_{space,comma,dash}' ('Y<sep>M', Builder.cpp:403-430).
    Malformed images render per UNKNOWN_FORMAT with the reference's
    guards (Builder.cpp:355-368): size 5, month byte in [49,71]
    (excess-60 month in [-11,11]), |years| ≤ 999999999."""
    if b is None or len(b) == 0:
        return None
    b = bytes(b)
    if len(b) != 5 or b[4] < 49 or b[4] > 71:
        return column_unknown(b, unknown)
    years = struct.unpack(">i", struct.pack(">I", struct.unpack(">I", b[:4])[0] ^ 0x80000000))[0]
    if abs(years) > 999_999_999:
        return column_unknown(b, unknown)
    months = b[4] - 60
    total = years * 12 + months
    sign = "-" if total < 0 else ""
    total = abs(total)
    if fmt in ("months", "months_string"):
        return f"{sign}{total}"
    return f"{sign}{total // 12}{_YTM_SEP[fmt]}{total % 12}"


def decode_interval_ds(
    b: bytes | None, fmt: str = "iso8601_space", unknown: str = "question"
) -> str | None:
    """11-byte INTERVAL DAY TO SECOND → text per INTERVAL_DTS_FORMAT:
    'iso8601_{space,comma,dash}' ('D<sep>HH:MM:SS.fffffffff',
    Builder.cpp:491-533) or 'unix[_nano|_micro|_milli]' (total duration
    scaled with half-up rounding, Builder.cpp:535-557). Malformed
    images render per UNKNOWN_FORMAT with the reference's guards
    (Builder.cpp:436-460): size 11, hour byte in [37,83], minute/second
    bytes in [1,119], |days| and |nanos| ≤ 999999999."""
    if b is None or len(b) == 0:
        return None
    b = bytes(b)
    if (
        len(b) != 11
        or b[4] < 37 or b[4] > 83
        or b[5] < 1 or b[5] > 119
        or b[6] < 1 or b[6] > 119
    ):
        return column_unknown(b, unknown)
    days = struct.unpack(">i", struct.pack(">I", struct.unpack(">I", b[:4])[0] ^ 0x80000000))[0]
    hours = b[4] - 60
    minutes = b[5] - 60
    seconds = b[6] - 60
    nanos = struct.unpack(">i", struct.pack(">I", struct.unpack(">I", b[7:11])[0] ^ 0x80000000))[0]
    if abs(days) > 999_999_999 or abs(nanos) > 999_999_999:
        return column_unknown(b, unknown)
    total_ns = (((days * 24 + hours) * 60 + minutes) * 60 + seconds) * 10**9 + nanos
    sign = "-" if total_ns < 0 else ""
    total_ns = abs(total_ns)
    if fmt in ("unix_nano", "unix_nano_string"):
        return f"{sign}{total_ns}"
    if fmt in ("unix_micro", "unix_micro_string"):
        return f"{sign}{(total_ns + 500) // 1000}"
    if fmt in ("unix_milli", "unix_milli_string"):
        return f"{sign}{(total_ns + 500_000) // 1_000_000}"
    if fmt in ("unix", "unix_string"):
        return f"{sign}{(total_ns + 500_000_000) // 10**9}"
    ns = total_ns % 10**9
    total_s = total_ns // 10**9
    return (
        f"{sign}{total_s // 86400}{_DTS_SEP[fmt]}"
        f"{(total_s % 86400) // 3600:02d}:{(total_s % 3600) // 60:02d}:"
        f"{total_s % 60:02d}.{ns:09d}"
    )


_B64 = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"


def rowid_to_text(data_obj: int, afn: int, block: int, slot: int) -> str:
    """18-char Oracle ROWID: 6 chars dataObj ⊕ 3 afn ⊕ 6 block ⊕ 3 slot,
    base-64 big-endian (RowId.h:1-274)."""
    def enc(v: int, width: int) -> str:
        out = []
        for i in range(width - 1, -1, -1):
            out.append(_B64[(v >> (6 * i)) & 0x3F])
        return "".join(out)

    return enc(data_obj, 6) + enc(afn, 3) + enc(block, 6) + enc(slot, 3)


def rowid_expr(data_obj, afn, block, slot):
    """Column-level B9 ROWID render — same layout as
    :func:`rowid_to_text` but composed from JVM builtins (substring over
    the base-64 alphabet per 6-bit digit), so the hot pipeline path
    never drops into Python."""
    from pyspark.sql import functions as F

    alph = F.lit(_B64)

    def enc(col, width):
        col = F.coalesce(col.cast("long"), F.lit(0))
        return F.concat(
            *[
                alph.substr(
                    (
                        F.shiftright(col, 6 * i).bitwiseAND(F.lit(0x3F))
                        + F.lit(1)
                    ).cast("int"),
                    F.lit(1),
                )
                for i in range(width - 1, -1, -1)
            ]
        )

    return F.concat(enc(data_obj, 6), enc(afn, 3), enc(block, 6), enc(slot, 3))


def decode_binary_float(b: bytes | None) -> float | None:
    """Oracle BINARY_FLOAT: MSB set → positive (clear it); else negative
    (invert all bits). None for any size other than 4 — the reference's
    columnUnknown route (Builder.cpp:258-263); the parse-plane
    dispatcher renders the unknown fallback (float-typed, so the '?'/
    hex text cannot come from this kernel).

    Exact port of Builder::decodeFloat (Builder.cpp:617-645), which is
    NOT a plain IEEE unpack at the edges (r12 review-pass-9): stored
    subnormals decode via ldexp(sig/2^23, exp-127) — no implicit bit
    but the NORMAL exponent bias, i.e. HALF the IEEE subnormal value —
    and only the canonical quiet-NaN payload (exp 0xFF, sig 0x400000)
    maps to NaN; every other NaN-patterned image decodes as a huge
    finite number through the normal formula."""
    if b is None or len(b) != 4:
        return None
    b = bytes(b)
    sign = b[0] & 0x80
    exponent = ((b[0] & 0x7F) << 1) | (b[1] >> 7)
    significand = ((b[1] & 0x7F) << 16) | (b[2] << 8) | b[3]
    if sign:
        if significand == 0:
            if exponent == 0:
                return 0.0
            if exponent == 0xFF:
                return math.inf
        elif significand == 0x400000 and exponent == 0xFF:
            return math.nan
        if exponent > 0:
            significand += 0x800000
        return math.ldexp(significand / 0x800000, exponent - 0x7F)
    if exponent == 0 and significand == 0x7FFFFF:
        return -math.inf
    significand = 0x7FFFFF - significand
    if exponent < 0xFF:
        significand += 0x800000
    return -math.ldexp(significand / 0x800000, 0x80 - exponent)


def decode_binary_double(b: bytes | None) -> float | None:
    """None for any size other than 8 — the reference's columnUnknown
    route (Builder.cpp:265-270); the dispatcher renders the fallback.
    Exact port of Builder::decodeDouble (Builder.cpp:647-676) — same
    subnormal/non-canonical-NaN edge semantics as decode_binary_float."""
    if b is None or len(b) != 8:
        return None
    b = bytes(b)
    sign = b[0] & 0x80
    exponent = ((b[0] & 0x7F) << 4) | (b[1] >> 4)
    significand = (
        ((b[1] & 0x0F) << 48) | (b[2] << 40) | (b[3] << 32)
        | (b[4] << 24) | (b[5] << 16) | (b[6] << 8) | b[7]
    )
    if sign:
        if significand == 0:
            if exponent == 0:
                return 0.0
            if exponent == 0x7FF:
                return math.inf
        elif significand == 0x8000000000000 and exponent == 0x7FF:
            return math.nan
        if exponent > 0:
            significand += 0x10000000000000
        try:
            return math.ldexp(
                significand / 0x10000000000000, exponent - 0x3FF
            )
        except OverflowError:
            # the reference computes in 80-bit long double, which holds
            # the ~2^1025 non-canonical-NaN decode a 64-bit float
            # cannot; saturate instead of crashing the task
            return math.inf
    if exponent == 0 and significand == 0xFFFFFFFFFFFFF:
        return -math.inf
    significand = 0xFFFFFFFFFFFFF - significand
    if exponent < 0x7FF:
        significand += 0x10000000000000
    try:
        return -math.ldexp(significand / 0x10000000000000, 0x400 - exponent)
    except OverflowError:
        return -math.inf


def encode_binary_double(v: float) -> bytes:
    raw = struct.pack(">d", v)
    if raw[0] & 0x80:  # negative → invert all
        return bytes(x ^ 0xFF for x in raw)
    return bytes([raw[0] | 0x80]) + raw[1:]


def encode_binary_float(v: float) -> bytes:
    raw = struct.pack(">f", v)
    if raw[0] & 0x80:
        return bytes(x ^ 0xFF for x in raw)
    return bytes([raw[0] | 0x80]) + raw[1:]


# The fixture database's timezone for TIMESTAMP WITH LOCAL TZ decode —
# the reference reads it from metadata->dbTimezone (set from V$ or
# config); OLRS1 models a fixed-offset database zone.
DB_TIMEZONE_SECONDS = 2 * 3600


def decode_timestamp_ltz(
    b: bytes | None, db_tz_seconds: int = DB_TIMEZONE_SECONDS,
    unknown: str = "question", fmt: str = "iso8601_nano",
) -> str | None:
    """7/11-byte TIMESTAMP WITH LOCAL TIME ZONE: the stored wall clock
    is in the DATABASE timezone; the emitted value is the UTC instant
    (Builder.cpp:167-208 — valuesToEpoch(metadata->dbTimezone)).
    Malformed images render per UNKNOWN_FORMAT with the reference's
    guards (Builder.cpp:168-198): size 7/11, component ranges,
    fraction ≤ 999999999. ``fmt`` is TIMESTAMP_FORMAT — the reference
    renders TSLTZ through the SAME columnTimestamp matrix as
    DATE/TIMESTAMP (Builder.cpp:205), which this kernel previously
    ignored (r12 review-pass-9)."""
    if b is None or len(b) == 0:
        return None
    b = bytes(b)
    nanos = struct.unpack(">I", b[7:11])[0] if len(b) == 11 else 0
    if (
        len(b) not in (7, 11)
        or not _dt_components_valid(b)
        or nanos > 999_999_999
    ):
        return column_unknown(b, unknown)
    # pure-integer civil arithmetic, like the reference's valuesToEpoch:
    # a calendar-impossible day that passes the per-byte range guard
    # (e.g. Feb 30 — day byte 29 IS in [0,30]) normalizes arithmetically
    # instead of crashing a datetime parser, and BC years work
    year = (b[0] - 100) * 100 + (b[1] - 100)
    epoch, nanos = _bc_flip(
        year, _civil_epoch_seconds(b) - db_tz_seconds, nanos
    )
    return _render_ts_body(epoch, nanos, fmt)


def encode_timestamp_ltz(
    s: str, db_tz_seconds: int = DB_TIMEZONE_SECONDS
) -> bytes:
    """Inverse of decode_timestamp_ltz: UTC canonical text → wall clock
    in the database timezone → 11 bytes."""
    ts, frac = s.split(".")
    dt = _dt.datetime.strptime(ts, "%Y-%m-%d %H:%M:%S") + _dt.timedelta(
        seconds=db_tz_seconds
    )
    return encode_date(dt.strftime("%Y-%m-%d %H:%M:%S")) + struct.pack(
        ">I", int(frac.ljust(9, "0")[:9])
    )


def encode_timestamp_tz(s: str) -> bytes:
    """Inverse of decode_timestamp_tz: 'YYYY-MM-DD HH:MM:SS.fffffffff
    <tz>' → the 13-byte image (Builder.cpp:272-353). A '±HH:MM' suffix
    encodes the offset form (excess-20 hour / excess-60 minute bytes);
    an IANA region name encodes its 16-bit timeZoneMap key; the 'TZ?'
    suffix encodes a key absent from the map (the decoder's unknown-key
    fallback path)."""
    ts, off = s.rsplit(" ", 1)
    if off[0] in "+-":
        sign = -1 if off[0] == "-" else 1
        tzh, tzm = (int(x) for x in off[1:].split(":"))
        return encode_timestamp(ts) + bytes(
            [sign * tzh + 20, sign * tzm + 60]
        )
    key = (
        _TZ_KEY_UNKNOWN if off == TZ_UNKNOWN else _TZ_NAME_TO_KEY[off]
    )
    return encode_timestamp(ts) + bytes([key >> 8, key & 0xFF])


def encode_interval_ym(s: str) -> bytes:
    """Inverse of decode_interval_ym(fmt='string_ym_dash'): '[-]Y-M' →
    5 bytes (big-endian years XOR 0x80000000, excess-60 months)."""
    neg = s.startswith("-")
    y, m = (int(x) for x in s.lstrip("-").split("-"))
    sign = -1 if neg else 1
    return struct.pack(">I", (sign * y) & 0xFFFFFFFF ^ 0x80000000) + bytes(
        [sign * m + 60]
    )


def encode_interval_ds(s: str) -> bytes:
    """Inverse of decode_interval_ds(fmt='iso8601_space'):
    '[-]D HH:MM:SS.fffffffff' → 11 bytes (big-endian days XOR
    0x80000000, excess-60 h/m/s, big-endian nanos XOR 0x80000000).
    All components carry the interval's sign, as Oracle stores them."""
    neg = s.startswith("-")
    d_part, hms = s.lstrip("-").split(" ")
    hh, mm, rest = hms.split(":")
    ss, frac = rest.split(".")
    sign = -1 if neg else 1
    days = sign * int(d_part)
    nanos = sign * int(frac.ljust(9, "0")[:9])
    return (
        struct.pack(">I", days & 0xFFFFFFFF ^ 0x80000000)
        + bytes([sign * int(hh) + 60, sign * int(mm) + 60, sign * int(ss) + 60])
        + struct.pack(">I", nanos & 0xFFFFFFFF ^ 0x80000000)
    )


def decode_boolean(b: bytes | None, unknown: str = "question") -> str | None:
    """1-byte Oracle BOOLEAN (type 252) → '0'/'1' — the reference renders
    the byte through its digit map and emits a bare number
    (Builder.cpp:591-600 map10). Anything but a single 0/1 byte is the
    reference's columnUnknown route (Builder.cpp:597)."""
    if b is None or len(b) == 0:
        return None
    if len(b) != 1 or b[0] > 1:
        return column_unknown(b, unknown)
    return str(b[0])


def encode_boolean(s: str) -> bytes:
    return bytes([int(s)])


def decode_urowid(b: bytes | None, unknown: str = "question") -> str | None:
    """13-byte UROWID (leading 0x01 physical-rowid marker) → 18-char
    ROWID text. Field layout per RowId::decodeFromHex (RowId.h:114-131):
    dataObj(4 BE) | slot(2 BE) | afn(2 BE) | dba-low-22-bits(4 BE);
    render joins afn back above the block bits (Builder.cpp:601-613).
    A wrong size or marker byte is the reference's columnUnknown route
    (Builder.cpp:607)."""
    if b is None or len(b) == 0:
        return None
    if len(b) != 13 or b[0] != 0x01:
        return column_unknown(b, unknown)
    b = bytes(b)
    data_obj = struct.unpack(">I", b[1:5])[0]
    slot = struct.unpack(">H", b[5:7])[0]
    afn = struct.unpack(">H", b[7:9])[0]
    block = struct.unpack(">I", b[9:13])[0] & 0x3FFFFF
    return rowid_to_text(data_obj, afn, block, slot)


def encode_urowid(text: str) -> bytes:
    """Inverse of decode_urowid: 18-char ROWID text → 13-byte UROWID."""
    def dec(s: str) -> int:
        v = 0
        for ch in s:
            v = (v << 6) | _B64.index(ch)
        return v

    data_obj = dec(text[0:6])
    afn = dec(text[6:9])
    block = dec(text[9:15])
    slot = dec(text[15:18])
    return (
        b"\x01"
        + struct.pack(">I", data_obj)
        + struct.pack(">H", slot)
        + struct.pack(">H", afn)
        + struct.pack(">I", block)
    )


# Oracle charset → python codec. The reference ships ~35k LoC of decode
# tables under src/locales/ (CharacterSetJA16EUC.cpp, …SJIS, …ZHS16GBK,
# …); the behaviorally-equivalent tables already exist as Python's
# standard codecs, so this is the Spark-first rendering of the same
# surface. Multi-byte sets are the ones a non-Latin-1 source database
# hits immediately.
_CHARSET_CODECS = {
    # Unicode
    "AL32UTF8": "utf-8",
    # "UTF8" is intentionally NOT here: Oracle UTF8 is CESU-8 —
    # supplementary characters arrive as two 3-byte-encoded surrogates
    # (handled explicitly below; a plain utf-8 decode garbles them).
    "AL16UTF16": "utf-16-be",
    # 7/8-bit sets
    "US7ASCII": "ascii",
    "WE8ISO8859P1": "latin-1",
    "WE8ISO8859P9": "iso8859-9",
    "WE8ISO8859P15": "iso8859-15",
    "EE8ISO8859P2": "iso8859-2",
    "SE8ISO8859P3": "iso8859-3",
    "NEE8ISO8859P4": "iso8859-4",
    "CL8ISO8859P5": "iso8859-5",
    "AR8ISO8859P6": "iso8859-6",
    "EL8ISO8859P7": "iso8859-7",
    "IW8ISO8859P8": "iso8859-8",
    "NE8ISO8859P10": "iso8859-10",
    "BLT8ISO8859P13": "iso8859-13",
    "CEL8ISO8859P14": "iso8859-14",
    "WE8MSWIN1252": "cp1252",
    "EE8MSWIN1250": "cp1250",
    "CL8MSWIN1251": "cp1251",
    "EL8MSWIN1253": "cp1253",
    "TR8MSWIN1254": "cp1254",
    "IW8MSWIN1255": "cp1255",
    "AR8MSWIN1256": "cp1256",
    "BLT8MSWIN1257": "cp1257",
    "VN8MSWIN1258": "cp1258",
    "TH8TISASCII": "tis-620",
    # East-Asian multi-byte (table-driven in the reference)
    "JA16EUC": "euc_jp",
    "JA16SJIS": "shift_jis",
    "JA16SJISTILDE": "shift_jis",
    "JA16EUCTILDE": "euc_jp",
    "ZHS16GBK": "gbk",
    "ZHS32GB18030": "gb18030",
    "ZHT16BIG5": "big5",
    "ZHT16HKSCS": "big5hkscs",
    "KO16KSC5601": "euc_kr",
    "KO16MSWIN949": "cp949",
}


def _decode_cesu8(b: bytes) -> str:
    """Oracle UTF8 is CESU-8: a supplementary character is stored as its
    UTF-16 surrogate pair, each half independently 3-byte encoded. Decode
    by letting the surrogates through, then recombining the pairs."""
    s = b.decode("utf-8", errors="surrogatepass")
    return s.encode("utf-16", "surrogatepass").decode("utf-16")


def _encode_cesu8(s: str) -> bytes:
    out = bytearray()
    for ch in s:
        cp = ord(ch)
        if cp >= 0x10000:
            cp -= 0x10000
            hi = 0xD800 | (cp >> 10)
            lo = 0xDC00 | (cp & 0x3FF)
            out += chr(hi).encode("utf-8", "surrogatepass")
            out += chr(lo).encode("utf-8", "surrogatepass")
        else:
            out += ch.encode("utf-8")
    return bytes(out)


def charset_decode(b: bytes | None, charset: str = "AL32UTF8", mode: str = "default") -> str | None:
    """Charset decode with the reference's unsupported-value modes
    (Format.h:42-46): default → replace, 'hex' → hex dump, 'nomapping' →
    latin-1 passthrough."""
    if b is None:
        return None
    b = bytes(b)
    if mode == "hex":
        return b.hex()
    if mode == "nomapping":
        return b.decode("latin-1")
    cs = charset.upper()
    if cs == "UTF8":
        try:
            return _decode_cesu8(b)
        except UnicodeDecodeError:
            return b.decode("utf-8", errors="replace")
    if cs in ("KO16KSCCS", "ZHT16HKSCS31"):
        # no Python codec exists — rule+delta decoders reproducing the
        # reference's tables bit-exactly (charset_extra.py)
        from openlogreplicator_spark.functions.charset_extra import (
            decode_ko16ksccs,
            decode_zht16hkscs31,
        )

        return (
            decode_ko16ksccs(b) if cs == "KO16KSCCS" else decode_zht16hkscs31(b)
        )
    codec = _CHARSET_CODECS.get(cs)
    if codec is None:
        return b.hex()  # unknown charset → hex (QUESTION_MARK-ish fallback)
    s = b.decode(codec, errors="replace")
    if cs in ("JA16SJISTILDE", "JA16EUCTILDE"):
        # the TILDE variants override exactly one mapping vs their base
        # sets: SJIS 0x8160 / EUC 0xA1C1 → U+FF5E FULLWIDTH TILDE instead
        # of U+301C WAVE DASH (CharacterSetJA16SJISTILDE.cpp:27-29,
        # CharacterSetJA16EUCTILDE.cpp:26-28). Those are the only byte
        # sequences the base codecs decode to U+301C, so the post-decode
        # translation is bit-exact.
        s = s.replace("\u301c", "\uff5e")
    return s
