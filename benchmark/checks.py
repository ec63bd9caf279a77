"""Answer checks.  Every rule here mirrors a rule the engine's own tests and
gates already hold it to, so a failed check means the program answered
wrongly:

* ranked top-k against ``searchengine_spark.oracle``: rank-identical, scores
  within rtol 1e-9, ties (equal scores) ordered by ascending doc_id, as in
  tests/test_spark_parity.py.  A doc may stand where the oracle has another
  doc only when the oracle scores both equally: which members of a tie group
  straddling the k boundary survive depends on the last bits of each
  engine's float sums.
* Boolean and phrase answers: equal doc_id sets.
* curation ops: equal to their DuckDB twins after the normalization of
  tools/check_gate.py (columns by name, floats rounded to 9 places, rows
  sorted).
"""

from __future__ import annotations

import math

RTOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=RTOL, abs_tol=0.0)


def check_ranked(got: list[tuple[int, float]], ranking: list[tuple[int, float]], k: int) -> str | None:
    """``ranking`` is the oracle's full ranking (score desc, doc_id asc).
    Returns None when ``got`` is a correct top-k, else the first fault."""
    want = ranking[:k]
    if len(got) != len(want):
        return f"{len(got)} results, oracle has {len(want)}"
    oracle_score = dict(ranking)
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc_id in results"
    for rank, ((gd, gs), (_, ws)) in enumerate(zip(got, want)):
        if gd not in oracle_score:
            return f"rank {rank}: doc {gd} does not match the query"
        if not _close(gs, oracle_score[gd]):
            return f"rank {rank}: doc {gd} score {gs!r}, oracle {oracle_score[gd]!r}"
        if not _close(gs, ws):
            return f"rank {rank}: score {gs!r}, oracle's rank-{rank} score {ws!r}"
    # the program's own order: score desc, equal scores by ascending doc_id
    # (scores that differ in the last bits are ordered by score, which the
    # per-rank comparison above already accepts as a tie with the oracle)
    for rank in range(1, len(got)):
        (pd, ps), (gd, gs) = got[rank - 1], got[rank]
        if not (ps > gs or (ps == gs and pd < gd)):
            return f"rank {rank}: ({pd}, {ps!r}) before ({gd}, {gs!r}) breaks score desc, doc_id asc"
    return None


def check_set(got: set[int], want: set[int]) -> str | None:
    if got == want:
        return None
    missing, extra = sorted(want - got)[:5], sorted(got - want)[:5]
    return f"{len(want - got)} missing (e.g. {missing}), {len(got - want)} extra (e.g. {extra})"


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def check_table(got_rows: list[tuple], got_cols: list[str], want_rows: list[tuple], want_cols: list[str]) -> str | None:
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows, twin has {len(want_rows)}"
    a, b = normalize(got_rows, got_cols), normalize(want_rows, want_cols)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"first differing row {diff[0]!r} != {diff[1]!r}"
    return None


def check_manifest(metrics: dict, oracle) -> str | None:
    """Build manifest counts against the oracle index of the same corpus."""
    want = {
        "n_docs": oracle.n_docs,
        "total_tokens": oracle.total_tokens,
        "n_postings": sum(len(p) for p in oracle.postings.values()),
    }
    for key, value in want.items():
        if metrics.get(key) != value:
            return f"manifest {key}={metrics.get(key)!r}, oracle {value}"
    if not _close(float(metrics.get("avgdl") or 0.0), oracle.avgdl):
        return f"manifest avgdl={metrics.get('avgdl')!r}, oracle {oracle.avgdl}"
    return None
