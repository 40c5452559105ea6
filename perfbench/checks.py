"""Answer checks: parse the engine's rendered results and compare them with
an independent oracle (DuckDB over the same Parquet files, or a model)."""

from __future__ import annotations

import math
import re

COL_WIDTH = 20  # the engine renders every cell left-justified to 20 chars
_AFFECTED = re.compile(r"^(\d+) row\(s\) affected$")


def parse_table(text: str) -> list[tuple[str, ...]]:
    """Rows of a fixed-width result table (header and dash line dropped).
    Every cell must be shorter than the column width, which the generated
    statements guarantee by projecting short values only."""
    lines = text.split("\n")
    if len(lines) < 2 or set(lines[1]) - {"-"}:
        raise ValueError(f"not a result table: {text[:80]!r}")
    return [
        tuple(line[i : i + COL_WIDTH].strip() for i in range(0, len(line), COL_WIDTH))
        for line in lines[2:]
    ]


def parse_affected(text: str) -> int:
    m = _AFFECTED.match(text.strip())
    if not m:
        raise ValueError(f"not a DML result: {text[:80]!r}")
    return int(m.group(1))


def _cell(v) -> object:
    """Canonical form of one value: numbers as floats, NULL as None,
    everything else as its string form."""
    if v is None or v == "NULL":
        return None
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(v)
    except (TypeError, ValueError):
        return str(v)


def _same(a, b, rel: float) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-6)
    return a == b


def _key(row):
    return tuple((c is None, str(c) if not isinstance(c, float) else f"{c:.4f}") for c in row)


def same_rows(got, want, rel: float = 1e-6) -> bool:
    """Order-insensitive row comparison with a relative float tolerance."""
    g = sorted((tuple(_cell(c) for c in r) for r in got), key=_key)
    w = sorted((tuple(_cell(c) for c in r) for r in want), key=_key)
    if len(g) != len(w):
        return False
    return all(
        len(a) == len(b) and all(_same(x, y, rel) for x, y in zip(a, b))
        for a, b in zip(g, w)
    )


def duck_connection(data_dir: str, tables: list[str]):
    """A DuckDB connection with one view per generated Parquet table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def same_as_oracle(got_rows, got_cols, want_rows, want_cols, rel: float = 1e-6) -> bool:
    """Operator output against its registered oracle: columns matched by
    name (the registry's convention), then rows order-insensitively."""
    if sorted(got_cols) != sorted(want_cols):
        return False
    gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    wi = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
    return same_rows(
        [tuple(r[i] for i in gi) for r in got_rows],
        [tuple(r[i] for i in wi) for r in want_rows],
        rel,
    )
