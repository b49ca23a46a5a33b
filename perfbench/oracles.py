"""Output checks, run outside the timed regions.

Each ``check_*`` function takes what the program returned and what an
independent source (DuckDB over the same materialized input, or a model of
the documented rules written here) expects, and returns a list of
mismatches; an empty list means the output is correct. They need no Spark,
so ``test_oracles.py`` can feed them perturbed outputs.
"""

from __future__ import annotations

import re
from collections import defaultdict


def _diff(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: program {got!r} != oracle {want!r}"]


# ---------------------------------------------------------------------------
# ingest_flow_control


def generated_rows_sql(gen_sql: str, rows_per_batch: int) -> str:
    """``gen_oracle_sql(batches * rows_per_batch)`` with the batch number of
    every row added as ``batch_no`` (batch k is index range [k*n, (k+1)*n),
    exactly as ``BatchGenerator.batch(n, batch_no=k)`` offsets it)."""
    sql, n_sel = re.subn(r"^SELECT\b", f"SELECT\n  i // {rows_per_batch} AS batch_no,", gen_sql)
    if n_sel != 1 or len(re.findall(r"FROM range\(\d+\) t\(i\)", sql)) != 1:
        raise ValueError("gen_oracle_sql no longer has the 'SELECT ... FROM range(n) t(i)' shape")
    return sql


def predict_flow(
    batch_hours: list[set[int]],
    delay_at: int,
    throw_at: int,
    min_parts_to_merge: int,
    max_parts_per_merge: int,
) -> dict:
    """The admission rules, modelled from the documented thresholds: before
    each insert, ``delay_at <= active < throw_at`` delays it and
    ``active >= throw_at`` rejects it; an admitted insert adds one part to
    each hour it touches; the merge pass after it folds the
    ``max_parts_per_merge`` smallest parts of every hour holding at least
    ``min_parts_to_merge`` parts into one. ``batch_hours[k]`` is the set of
    hours batch k touches."""
    parts: dict[int, int] = defaultdict(int)
    delayed = rejected = 0
    admitted = []
    for hours in batch_hours:
        active = sum(parts.values())
        if active >= throw_at:
            rejected += 1
            admitted.append(False)
        else:
            delayed += active >= delay_at
            admitted.append(True)
            for h in hours:
                parts[h] += 1
        for h, n in parts.items():
            if n >= min_parts_to_merge:
                parts[h] = n - min(n, max_parts_per_merge) + 1
    return {
        "delayed": delayed,
        "rejected": rejected,
        "active_parts": sum(parts.values()),
        "parts_per_hour": dict(parts),
        "admitted": admitted,
    }


def check_ingest(got: dict, want: dict) -> list[str]:
    """``got``: what the program reported — ``per_hour`` {hour: (rows,
    cents)} read back from the table, ``metrics`` from the last monitoring
    query, ``parts_report`` {hour: (parts, rows)} from the last parts query
    (its ``parts_report_len`` rows), the final ``flow_active_parts``, the
    ``rejected`` insert count and the rows of each committed insert.
    ``want``: the generator oracle's ``per_hour``, ``rows_per_batch`` and
    the :func:`predict_flow` result."""
    out = []
    flow = want["flow"]
    total_rows = sum(n for n, _ in want["per_hour"].values())
    one_side = sorted(set(want["per_hour"]) ^ set(got["per_hour"]))
    if one_side:
        out.append(f"hours present on one side only: {one_side[:5]}")
    for hour in sorted(set(want["per_hour"]) & set(got["per_hour"])):
        out += _diff(f"hour {hour} (rows, cents)", got["per_hour"][hour], want["per_hour"][hour])
    out += _diff("system_metrics InsertedRows", got["metrics"]["InsertedRows"], total_rows)
    out += _diff("system_metrics DelayedInserts", got["metrics"]["DelayedInserts"], flow["delayed"])
    out += _diff("system_metrics PartsActive", got["metrics"]["PartsActive"], flow["active_parts"])
    out += _diff("flow_status active_parts", got["flow_active_parts"], flow["active_parts"])
    out += _diff("rejected inserts", got["rejected"], flow["rejected"])
    out += _diff("parts report rows", got["parts_report_len"], min(20, len(flow["parts_per_hour"])))
    for hour, (n_parts, n_rows) in sorted(got["parts_report"].items()):
        want_rows = want["per_hour"].get(hour, (None,))[0]
        out += _diff(f"parts report hour {hour} (parts, rows)", (n_parts, n_rows),
                     (flow["parts_per_hour"].get(hour), want_rows))
    bad = [r for r in got["insert_rows"] if r != want["rows_per_batch"]]
    if bad:
        out.append(f"{len(bad)} inserts committed a row count other than {want['rows_per_batch']}: {bad[:3]}")
    return out


# ---------------------------------------------------------------------------
# ann_ivf_query


def check_topk_shape(rows: list[tuple], query_ids: list[int], k: int) -> list[str]:
    """``rows``: (query_id, rank, neighbor_id, cosine). Every query gets k
    ranks 1..k, ordered by cosine descending then neighbor id, never
    itself."""
    out = []
    by_q: dict[int, list[tuple]] = defaultdict(list)
    for r in rows:
        by_q[r[0]].append(r)
    out += _diff("queries answered", sorted(by_q), sorted(query_ids))
    for q, rs in sorted(by_q.items()):
        rs.sort(key=lambda r: r[1])
        if [r[1] for r in rs] != list(range(1, k + 1)):
            out.append(f"query {q}: ranks {[r[1] for r in rs]}")
        if any(r[2] == q for r in rs):
            out.append(f"query {q}: returned itself")
        order = sorted(rs, key=lambda r: (-r[3], r[2]))
        if [r[2] for r in order] != [r[2] for r in rs]:
            out.append(f"query {q}: ranks not ordered by (cosine desc, neighbor_id)")
    return out


def check_same_rows(label: str, a: list[tuple], b: list[tuple]) -> list[str]:
    a, b = sorted(map(tuple, a)), sorted(map(tuple, b))
    if a == b:
        return []
    only_a = [r for r in a if r not in b]
    only_b = [r for r in b if r not in a]
    return [f"{label}: {len(only_a)} rows only on the left {only_a[:2]}, {len(only_b)} only on the right {only_b[:2]}"]


def check_cosines(rows: list[tuple], exact: dict[tuple[int, int], float]) -> list[str]:
    """Each returned (query_id, neighbor_id) cosine equals the exact cosine
    rounded to 6 places."""
    out = []
    for q, _, nb, cos in rows:
        want = exact.get((q, nb))
        if want is None or cos != want:
            out.append(f"cosine({q}, {nb}): program {cos!r} != oracle {want!r}")
    return out[:10]
