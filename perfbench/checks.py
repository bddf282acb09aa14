"""Output checks and result digests.

Every op is checked against invariants that hold for any correct
engine, so a change that is fast but wrong fails the run; the digest of
every op's result ids lets two same-seed runs be compared op by op.
"""

from __future__ import annotations

import hashlib

from inputs import Op, Shard


def check_catalog(op: Op, out, count: int, batch_size: int) -> str | None:
    """The first problem with one catalog op's output, or None."""
    if op.kind == "write":
        if out != batch_size:
            return f"load_data wrote {out} rows, expected {batch_size}"
        return None
    if len(out) > count:
        return f"{op.kind} returned {len(out)} rows > count {count}"
    ids = [r["id"] for r in out]
    if len(set(ids)) != len(ids):
        return f"{op.kind} {op.text!r} returned a duplicate id"
    scores = [r["score"] for r in out]
    if any(a < b for a, b in zip(scores, scores[1:])):
        return f"{op.kind} {op.text!r} is not ordered by score"
    if op.expect_id is not None:
        # the exact match scores the maximum; vector hits may tie it, and
        # ties are ordered by id, so "first" means "among the top score"
        hit = [r for r in out if r["id"] == op.expect_id]
        if not hit or hit[0]["score"] != scores[0]:
            return f"{op.kind} {op.text!r} did not rank its part first"
        if op.expect_text is not None and hit[0]["text"] != op.expect_text:
            return f"{op.kind} {op.text!r} returned a stale description"
    if op.filter_value is not None and any(
        r["Price"] != op.filter_value for r in out
    ):
        return f"search {op.text!r} returned rows outside its filter"
    return None


def check_curation(
    shard: Shard, kept: int, tokens: int, removed: set, floor: float
) -> tuple[str | None, float]:
    """(first problem or None, planted near-duplicate recall)."""
    recall = len(shard.near_copies & removed) / max(len(shard.near_copies), 1)
    if not shard.exact_copies <= removed:
        return "a planted exact duplicate was kept", recall
    if recall < floor:
        return f"near-duplicate recall {recall:.3f} < {floor}", recall
    stray = removed - shard.exact_copies - shard.near_copies
    if stray:
        return f"{len(stray)} original documents were removed", recall
    if kept != shard.n_docs - len(removed):
        return f"kept {kept} != {shard.n_docs} docs - {len(removed)} removed", recall
    if tokens <= 0:
        return "kept documents have no tokens", recall
    return None, recall


def _h(payload: str) -> str:
    return hashlib.sha1(payload.encode()).hexdigest()[:10]


def digest(op: Op, out) -> str:
    if op.kind == "write":
        return _h(f"write:{out}")
    return _h(f"{op.kind}:" + ",".join(str(r["id"]) for r in out))


def digest_curation(kept: int, tokens: int, removed: set) -> str:
    return _h(f"{kept}:{tokens}:" + ",".join(map(str, sorted(removed))))
