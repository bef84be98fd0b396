"""Output checks for every timed operation.

Each check returns a list of problem strings (empty = correct); a run
counts every problem as one failed operation and reports
``correct: false`` when any exists. They are pure functions over what
the client sent and what the program answered, so the planted-fault
tests in ``test_checks.py`` drive them directly.
"""

from __future__ import annotations

from collections import Counter

from tools.check_oracle import TABLES, norm_value, rows_multiset  # noqa: F401


def check_acks_dense(acks: list[tuple[int, int]], first: int) -> list[str]:
    """Acknowledged offset ranges ``(lo, hi)`` must tile ``first..`` with
    no gap and no offset acknowledged twice."""
    problems = []
    nxt = first
    for lo, hi in sorted(acks):
        if hi < lo:
            problems.append(f"ack range {lo}..{hi} is empty")
        elif lo < nxt:
            problems.append(f"offsets {lo}..{min(hi, nxt - 1)} acknowledged twice")
        elif lo > nxt:
            problems.append(f"offsets {nxt}..{lo - 1} never acknowledged")
        nxt = max(nxt, hi + 1)
    return problems


def check_read(offset: int, got: dict | None, expected: str) -> list[str]:
    """A point read must return the record at ``offset`` with the
    payload the run wrote there."""
    if got is None:
        return [f"read {offset}: no record"]
    if got.get("offset") != offset:
        return [f"read {offset}: answered offset {got.get('offset')}"]
    if got.get("value") != expected:
        return [f"read {offset}: payload differs"]
    return []


def check_deliveries(
    delivered: list[tuple[int, str]], sent: dict[int, str]
) -> list[str]:
    """The tail consumer must deliver every acknowledged offset exactly
    once, in offset order, with the exact bytes produced."""
    problems = []
    offs = [o for o, _ in delivered]
    if any(b <= a for a, b in zip(offs, offs[1:])):
        problems.append("deliveries out of order or repeated")
    counts = Counter(offs)
    dup = sorted(o for o, c in counts.items() if c > 1)
    if dup:
        problems.append(f"{len(dup)} offsets delivered more than once, first {dup[0]}")
    missing = sorted(set(sent) - set(counts))
    if missing:
        problems.append(f"{len(missing)} acknowledged offsets never delivered, first {missing[0]}")
    unknown = sorted(set(counts) - set(sent))
    if unknown:
        problems.append(f"{len(unknown)} delivered offsets never acknowledged, first {unknown[0]}")
    bad = sorted(o for o, v in delivered if o in sent and sent[o] != v)
    if bad:
        problems.append(f"{len(bad)} delivered payloads differ, first {bad[0]}")
    return problems


def check_bounds(
    got: dict, lowest: int, acked_hi: int, issued_hi: int
) -> list[str]:
    """``/bounds`` must agree with the acknowledged range: lowest is the
    log's first offset, highest covers everything acknowledged before
    the request was sent and nothing beyond what had been issued by the
    time its answer arrived, and count is dense."""
    lo, hi, n = got.get("lowest_offset"), got.get("highest_offset"), got.get("count")
    if lo != lowest:
        return [f"bounds lowest {lo} != {lowest}"]
    if hi is None or not acked_hi <= hi <= issued_hi:
        return [f"bounds highest {hi} outside {acked_hi}..{issued_hi}"]
    if n != hi - lo + 1:
        return [f"bounds count {n} != {hi - lo + 1}"]
    return []


# -- query results: the comparison of tools/check_oracle.py ----------------

# the DuckDB -> Spark dtype spelling; tools/check_oracle.py keeps its copy
# inside main(), where it cannot be imported
_DUCK_TYPES = {
    "BIGINT": "bigint", "VARCHAR": "string", "INTEGER": "int",
    "DOUBLE": "double", "FLOAT": "float", "BOOLEAN": "boolean",
    "DATE": "date",
}


def duck_dtype(t: str) -> str:
    """A DuckDB relation type spelled as Spark's ``DataFrame.dtypes``."""
    if t.endswith("[]"):
        return f"array<{duck_dtype(t[:-2])}>"
    return _DUCK_TYPES.get(t, t.lower())


def check_query(
    name: str,
    cols: list[str],
    dtypes: dict[str, str],
    rows: list,
    oracle_cols: list[str],
    oracle_types: dict[str, str],
    oracle_rows: list,
) -> list[str]:
    """Column names, dtypes and the column-sorted row multiset of a
    Spark result must equal the DuckDB oracle's. Rows are value
    sequences in their columns' order; values already passed through
    ``norm_value`` compare equal to the raw values they came from."""
    if sorted(cols) != sorted(oracle_cols):
        return [f"{name}: columns {sorted(cols)} != {sorted(oracle_cols)}"]
    drift = {
        c: (dtypes.get(c), t)
        for c, t in oracle_types.items()
        if duck_dtype(t) != dtypes.get(c)
    }
    if drift:
        return [f"{name}: dtypes {drift}"]
    if len(rows) != len(oracle_rows):
        return [f"{name}: {len(rows)} rows, oracle {len(oracle_rows)}"]
    diff = rows_multiset(cols, rows) - rows_multiset(oracle_cols, oracle_rows)
    if diff:
        return [f"{name}: {sum(diff.values())} rows differ, e.g. {next(iter(diff))}"]
    return []
