"""Output checks. Each returns a list of problems (empty = pass); the
caller counts every check as one attempted operation and every non-empty
result as one failure."""

from __future__ import annotations

import hashlib
from collections import Counter


def triple_digest(rows) -> str:
    """sha256 over the sorted (subj, pred, obj) rows, duplicates kept."""
    h = hashlib.sha256()
    for s, p, o in sorted(tuple(r) for r in rows):
        h.update(f"{s}\t{p}\t{o}\n".encode())
    return h.hexdigest()


def check_triples(rows, expected: set) -> list[str]:
    """``rows`` is exactly the edge set ``expected``, each edge once."""
    rows = [tuple(r) for r in rows]
    dups = [t for t, n in Counter(rows).items() if n > 1]
    got = set(rows)
    out = []
    if dups:
        out.append(f"{len(dups)} duplicate edges, e.g. {dups[0]}")
    if got - expected:
        out.append(f"{len(got - expected)} unexpected triples, e.g. {sorted(got - expected)[0]}")
    if expected - got:
        out.append(f"{len(expected - got)} missing triples, e.g. {sorted(expected - got)[0]}")
    return out


def check_same_digest(digests: list[str]) -> list[str]:
    if len(set(digests)) > 1:
        return [f"repetitions disagree: {len(set(digests))} distinct triple digests"]
    return []


def union_find_keep(doc_ids, pairs) -> dict[int, int]:
    """keep flag per doc: 1 iff the doc is the smallest id of its
    connected component in the pair graph (singletons keep)."""
    parent = {int(d): int(d) for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: int(find(d) == d) for d in parent}


def check_keep(rows, expected: dict[int, int]) -> list[str]:
    """``rows`` of (id, keep) carry exactly one flag per doc, equal to
    ``expected``."""
    got: dict[int, int] = {}
    out = []
    for doc_id, keep in rows:
        if doc_id in got:
            out.append(f"doc {doc_id} labeled twice")
            break
        got[int(doc_id)] = int(keep)
    missing = expected.keys() - got.keys()
    extra = got.keys() - expected.keys()
    wrong = [d for d in expected.keys() & got.keys() if got[d] != expected[d]]
    if missing:
        out.append(f"{len(missing)} docs without a keep flag, e.g. {min(missing)}")
    if extra:
        out.append(f"{len(extra)} unknown doc ids, e.g. {min(extra)}")
    if wrong:
        out.append(f"{len(wrong)} wrong keep flags, e.g. doc {min(wrong)}")
    return out


def check_lookup(rows, expected: set, exact: bool) -> list[str]:
    """A keyed read returned only expected rows, each once — and all of
    them when ``exact`` (the table is complete for that key)."""
    rows = [tuple(r) for r in rows]
    out = []
    if len(set(rows)) != len(rows):
        out.append("duplicate rows in lookup")
    if set(rows) - expected:
        out.append(f"unexpected lookup row {sorted(set(rows) - expected)[0]}")
    if exact and expected - set(rows):
        out.append(f"lookup misses row {sorted(expected - set(rows))[0]}")
    return out
