"""Seeded redo inputs for the two streaming workloads.

Both generators are pure Python and deterministic in their seed. Records
are REDO_RECORD_SCHEMA dicts; files are rendered with the engine's public
encoder ``sources.binary_redo.encode_redo_file``, so the engine under test
receives only OLRS1 files.

``replay_transactions`` — short, plain OLTP transactions (begin, 1-8 DML,
commit) with typed column images: NUMBER, DATE, multibyte VARCHAR2
(JA16SJIS), BINARY_DOUBLE and RAW. Images are drawn from the sf0.01
lineitem rows and rendered as the binary CDC fixture renders them, so
each column has the fixture's value distribution. The parse layer decodes
each distinct image once per file, so the per-file, per-column distinct
share (``distinct_share``, measured on the generated files and printed
by every run) sets how much decode work a record carries.

``tail_records`` — the online stream: a fixed window of open
transactions interleaved record by record, so transactions straddle
segment files. About a quarter of transactions take the sequential
assembly tail: full rollbacks, partial rollbacks and multi-row QMI/QMD.
"""

from __future__ import annotations

import hashlib
import os
import random
import zlib
from decimal import Decimal

# bump when the generators change, so cached inputs are rebuilt
FIXTURE_VERSION = 2

COL_TYPES = {
    "QTY": "number",
    "PRICE": "number",
    "SHIP": "date",
    "NOTE": "varchar2:JA16SJIS",
    "DISC": "binary_double",
    "RAW": "raw",
}
N_OBJS = 8
LINEITEM = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "data", "sf0.01", "lineitem.parquet")
# the note prefix of cdc._attach_images, by l_returnflag
_NOTE_PREFIX = {"R": "返品 ", "A": "承認 "}
_lineitem_rows: list[dict] | None = None


def lineitem_images() -> list[dict]:
    """One full column image per lineitem row of the sf0.01 tables,
    rendered as ``cdc._attach_images`` renders the binary CDC fixture's
    images (``_binary_redo_dir``): QTY is l_quantity, PRICE
    l_extendedprice as DECIMAL(12,2), SHIP l_shipdate, NOTE a JA16SJIS
    prefix by l_returnflag plus l_linestatus, DISC l_discount. RAW is
    filled per record (md5 of its bdba and slot, as the fixture's)."""
    global _lineitem_rows
    if _lineitem_rows is None:
        import pyarrow.parquet as pq

        t = pq.read_table(LINEITEM, columns=[
            "l_quantity", "l_extendedprice", "l_shipdate", "l_returnflag",
            "l_linestatus", "l_discount"]).to_pydict()
        _lineitem_rows = [
            {
                "QTY": str(int(q)),
                "PRICE": f"{p:.2f}",
                "SHIP": d.strftime("%Y-%m-%d %H:%M:%S"),
                "NOTE": _NOTE_PREFIX.get(f, "通常 ") + ls,
                "DISC": str(float(c)),
            }
            for q, p, d, f, ls, c in zip(
                t["l_quantity"], t["l_extendedprice"], t["l_shipdate"],
                t["l_returnflag"], t["l_linestatus"], t["l_discount"])
        ]
    return _lineitem_rows


class _Images:
    """Column images drawn, with the seeded generator, from the lineitem
    rows the binary CDC fixture is built from, so each column carries the
    fixture's value distribution."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.rows = lineitem_images()

    def image(self, names, bdba: int, slot: int) -> dict:
        row = self.rng.choice(self.rows)
        img = {n: row[n] for n in names if n != "RAW"}
        if "RAW" in names:
            img["RAW"] = hashlib.md5(f"{bdba}|{slot}".encode()).hexdigest()
        return img


def _number(v: str) -> str:
    if v[:1].isdigit() and "." in v and "e" not in v.lower():
        v = v.rstrip("0").rstrip(".")
        return v if v not in ("", "-") else "0"
    return format(Decimal(v).normalize(), "f")


_CANON = {"number": _number, "binary_double": float, "raw": str.lower}


def canonical(col: str, value):
    """A column value in a form that compares equal across the encoder's
    input and the engine's rendering of the decoded image: NUMBER as a
    plain decimal without trailing zeros ("54760.20" = "54760.2"),
    BINARY_DOUBLE as a float, RAW as lower-case hex, DATE and text
    verbatim."""
    if value is None:
        return None
    return _CANON.get(COL_TYPES[col].split(":")[0], str)(value)


def distinct_share(files, columns=None) -> dict[str, float]:
    """Per column, the mean over files of distinct images / non-null
    images in the file. The parse layer decodes each distinct image once
    per file, so this is the share of images a file's decode pays for.
    ``files`` holds each file's records (dicts with ``cols`` and
    ``rows``); ``columns`` maps a column name to its COL_TYPES name
    (default: COL_TYPES). Images compare by value, which the encoding of
    each type keeps canonical, so encoder input and decoded output
    measure alike."""
    out = {}
    for col, name in (columns or {c: c for c in COL_TYPES}).items():
        shares = []
        for recs in files:
            vals = [canonical(name, img[col]) for r in recs
                    for img in ([r["cols"]] if r["cols"] else [])
                    + (r["rows"] or []) if img.get(col) is not None]
            if vals:
                shares.append(len(set(vals)) / len(vals))
        out[name] = round(sum(shares) / len(shares), 4) if shares else 0.0
    return out


def fixture_distinct_share(redo_dir: str) -> tuple[dict, int]:
    """``distinct_share`` of the binary CDC fixture's files (the output
    of ``cdc._binary_redo_dir``), parsed with the engine's own kernel;
    also returns the mean number of records per file."""
    from openlogreplicator_spark.sources.binary_redo import (
        parse_redo_columns,
    )

    files = []
    for root, _dirs, names in sorted(os.walk(redo_dir)):
        for n in sorted(names):
            if n.endswith(".olrs"):
                with open(os.path.join(root, n), "rb") as fh:
                    cols = parse_redo_columns(fh.read(), n)
                files.append([{"cols": c, "rows": r}
                              for c, r in zip(cols["cols"], cols["rows"])])
    columns = {f"l_{c.lower()}": c for c in COL_TYPES}
    return (distinct_share(files, columns),
            sum(map(len, files)) // max(1, len(files)))


_ALL_COLS = tuple(COL_TYPES)
_UPD_COLS = ("QTY", "PRICE", "DISC")
_DEL_COLS = ("QTY",)


def _dml(rng: random.Random, images: _Images, scn: int, xid: str) -> dict:
    roll = rng.random()
    if roll < 0.7:
        op, names = "insert", _ALL_COLS
    elif roll < 0.9:
        op, names = "update", _UPD_COLS
    else:
        op, names = "delete", _DEL_COLS
    bdba, slot = rng.randint(1, 1 << 20), rng.randint(0, 200)
    return _rec(scn, xid, op, obj=rng.randint(1, N_OBJS), bdba=bdba,
                slot=slot, cols=images.image(names, bdba, slot))


def _rec(scn: int, xid: str, opcode: str, **kw) -> dict:
    r = {
        "scn": scn, "subscn": 0, "block": None, "offset": None, "seq": 1,
        "xid": xid, "opcode": opcode, "obj": None, "bdba": None,
        "slot": None, "fb": 0, "cols": None, "rows": None,
    }
    r.update(kw)
    return r


def replay_transactions(seed: int, n_records: int) -> list[list[dict]]:
    """Plain committed transactions totalling about ``n_records``
    records, each a list of records in scn order. SCNs are globally
    increasing; sixteen transactions are open at a time, so records of
    different transactions interleave in scn order."""
    rng = random.Random(seed)
    images = _Images(rng)
    txns: list[list[dict]] = []
    open_: list[tuple[list[dict], int]] = []
    scn = 1_000_000
    emitted = 0
    serial = 0
    while emitted < n_records or open_:
        while len(open_) < 16 and emitted < n_records:
            serial += 1
            xid = f"{serial % 7}.{serial % 31}.{serial}"
            recs = [_rec(scn, xid, "begin")]
            scn += 1
            emitted += 1
            open_.append((recs, rng.randint(1, 8)))
            txns.append(recs)
        i = rng.randrange(len(open_))
        recs, left = open_[i]
        xid = recs[0]["xid"]
        if left:
            recs.append(_dml(rng, images, scn, xid))
            open_[i] = (recs, left - 1)
        else:
            recs.append(_rec(scn, xid, "commit"))
            open_.pop(i)
        scn += 1
        emitted += 1
    return txns


def replay_files(txns: list[list[dict]], n_files: int) -> list[list[dict]]:
    """Hash-partition transactions by xid (a stable crc32); each file's
    records in scn order, so no transaction straddles files."""
    files: list[list[dict]] = [[] for _ in range(n_files)]
    for recs in txns:
        files[zlib.crc32(recs[0]["xid"].encode()) % n_files].extend(recs)
    for f in files:
        f.sort(key=lambda r: r["scn"])
    return files


def tail_records(seed: int, n_records: int, window: int = 256) -> list[dict]:
    """The online redo stream, in scn order. ``window`` transactions are
    open at any time and the next record comes from a random one of
    them; transactions are 3-12 records long, so a transaction spans a
    few thousand records and straddles segment boundaries. About 25% of
    transactions are exotic: 8% roll back, 9% carry a partial rollback,
    8% carry a multi-row QMI/QMD."""
    rng = random.Random(seed)
    images = _Images(rng)
    out: list[dict] = []
    open_: list[dict] = []
    scn = 5_000_000
    serial = 0
    while len(out) < n_records:
        while len(open_) < window:
            serial += 1
            kind = rng.random()
            open_.append({
                "xid": f"{serial % 5}.{serial % 29}.{serial}",
                "left": rng.randint(1, 10),
                "kind": ("rollback" if kind < 0.08 else
                         "prollback" if kind < 0.17 else
                         "multi" if kind < 0.25 else "plain"),
                "begun": False, "live": [], "exotic_done": False,
            })
        t = rng.choice(open_)
        xid = t["xid"]
        if not t["begun"]:
            out.append(_rec(scn, xid, "begin"))
            t["begun"] = True
        elif t["left"] > 0:
            t["left"] -= 1
            if (t["kind"] == "prollback" and t["live"]
                    and not t["exotic_done"]):
                bdba, slot = t["live"].pop(rng.randrange(len(t["live"])))
                out.append(_rec(scn, xid, "prollback", bdba=bdba, slot=slot,
                                obj=1))
                t["exotic_done"] = True
            elif t["kind"] == "multi" and not t["exotic_done"]:
                bdba, slot = rng.randint(1, 1 << 20), rng.randint(0, 200)
                out.append(_rec(
                    scn, xid, rng.choice(("qmi", "qmd")),
                    obj=rng.randint(1, N_OBJS), bdba=bdba, slot=slot,
                    rows=[images.image(_UPD_COLS, bdba, slot)
                          for _ in range(rng.randint(2, 4))],
                ))
                t["exotic_done"] = True
            else:
                r = _dml(rng, images, scn, xid)
                t["live"].append((r["bdba"], r["slot"]))
                out.append(r)
        else:
            out.append(_rec(scn, xid, "rollback" if t["kind"] == "rollback"
                            else "commit"))
            open_.remove(t)
        scn += 1
    return out


def tail_segments(records: list[dict], per_file: int) -> list[list[dict]]:
    """Scn-contiguous segments of ``per_file`` records; segment k (from
    1) carries redo sequence k."""
    segs = []
    for k, i in enumerate(range(0, len(records), per_file), start=1):
        seg = [dict(r, seq=k) for r in records[i: i + per_file]]
        segs.append(seg)
    return segs


def encode_file(records: list[dict], sequence: int) -> bytes:
    from openlogreplicator_spark.sources.binary_redo import encode_redo_file

    return encode_redo_file(records, sequence=sequence, col_types=COL_TYPES)


def _encode_job(args) -> tuple[str, int]:
    records, sequence, path = args
    data = encode_file(records, sequence)
    tmp = path + ".part"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)
    return path, len(data)


def encode_files(files: list[list[dict]], paths: list[str],
                 workers: int) -> int:
    """Encode file k's records to ``paths[k]`` (sequence k+1) on a
    process pool; returns the total bytes written. Called before the
    session starts, while the process has no other thread, so the pool
    forks."""
    import multiprocessing

    jobs = [(recs, i + 1, p) for i, (recs, p) in enumerate(zip(files, paths))]
    ctx = multiprocessing.get_context("fork")
    with ctx.Pool(workers) as pool:
        sizes = pool.map(_encode_job, jobs, chunksize=1)
    return sum(n for _, n in sizes)


if __name__ == "__main__":
    # python3 perfbench/redo_fixtures.py [BINARY_CDC_FIXTURE_DIR]
    # prints the per-file distinct image share of the replay_drain
    # backlog (seed 1) and, given the directory cdc._binary_redo_dir
    # built, of that fixture
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    files = replay_files(replay_transactions(1, 100_000), 32)
    print("replay_drain backlog:", distinct_share(files),
          f"{sum(map(len, files)) // len(files)} records per file")
    if len(sys.argv) > 1:
        share, per_file = fixture_distinct_share(sys.argv[1])
        print("binary CDC fixture:", share, f"{per_file} records per file")
