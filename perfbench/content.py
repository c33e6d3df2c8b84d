"""Content check of the engine's rendered change messages.

The reference is the sequential assembly ``assemble_transactions_py``
over the generated records. Both sides reduce to, per transaction, the
multiset of operations (scn, op, obj, column image), the image values in
``redo_fixtures.canonical`` form. A message that decodes a value wrongly,
carries a rolled-back operation in place of a live one, or goes missing
changes its transaction's multiset.
"""

from __future__ import annotations

import hashlib
import json
from collections import Counter

from perfbench.redo_fixtures import canonical


def _image(img) -> tuple:
    return tuple(sorted((k, canonical(k, v)) for k, v in (img or {}).items()))


def reference_ops(rows) -> dict[str, Counter]:
    """xid → operations, from ``assemble_transactions_py`` output rows."""
    out: dict[str, Counter] = {}
    for r in rows:
        out.setdefault(r["xid"], Counter())[
            (r["scn"], r["op"], r["obj"], _image(r["cols"]))] += 1
    return out


def message_ops(messages) -> dict[str, Counter]:
    """xid → operations, from rendered JSON messages: the after image of
    an insert or update, the before image of a delete."""
    out: dict[str, Counter] = {}
    for m in messages:
        d = json.loads(m)
        ops = out.setdefault(d.get("xid"), Counter())
        for p in d.get("payload") or ():
            op = p.get("op")
            img = p.get("before") if op == "d" else p.get("after")
            ops[(d.get("scn"), op, (p.get("schema") or {}).get("obj"),
                 _image(img))] += 1
    return out


def mismatched(expected: dict, got: dict) -> list[str]:
    """Transactions of ``expected`` whose operations differ in ``got``."""
    return sorted(x for x, ops in expected.items() if got.get(x) != ops)


def digest(ops: dict) -> str:
    """Order-independent digest of xid → operations."""
    h = hashlib.sha256()
    for xid in sorted(ops):
        h.update(repr((xid, sorted(ops[xid].items()))).encode())
    return h.hexdigest()[:16]
