"""Key ranges and row counts read from parquet FOOTERS.

One question, answered driver-side with no Spark job: what key range and
how many rows does this parquet file (or dir, or list of files) hold? A
columnar file's own footer statistics are what a reader skips it by
(Dremel, VLDB 2020), so the ledger's terminal segments and the dedup
index's files both prune on them instead of keeping a second copy; the
ANN indexes count their cells' rows from them. The answer is
conservative: a range is only reported when every row group carries
usable min/max statistics for the column, and a truncated bound still
brackets the true one.
"""

from __future__ import annotations

import os
from collections.abc import Iterable


class _Undecodable:
    """Sentinel range: the footer HAS min/max stats but they don't decode
    losslessly as UTF-8 (a lossy decode substitutes U+FFFD, which can reorder
    the decoded bound relative to true byte order — pruning on it would be
    unsound for a generic binary key). Distinct from ``None`` (stats MISSING,
    fixable by a rewrite): rewriting a truly binary-keyed file reproduces
    undecodable stats, so classifying it stats-dirty would put it in a
    permanent rewrite-every-compaction loop (ADVICE r12). An UNDECODABLE
    file is never pruned (always scanned) and never repaired for its stats.
    Unreachable for today's md5-hex probe keys; the helpers are generic."""

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return "UNDECODABLE"


UNDECODABLE = _Undecodable()


def footer_stats(
    path: str, column: str
) -> tuple[tuple[str, str] | _Undecodable | None, int]:
    """(min/max range | UNDECODABLE | None, num_rows) from one parquet
    FOOTER — driver-side, no Spark job. Truncated stats stay conservative
    (a truncated min is a prefix <= true min; a truncated max has its last
    byte incremented >= true max). Range is None when stats are absent from
    any row group (a rewrite fixes that), and UNDECODABLE when stats exist
    but at least one byte stat doesn't decode losslessly as UTF-8 (see
    :class:`_Undecodable` — permanent; don't repair, just never prune)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: list[str] = []
    maxs: list[str] = []
    missing = False
    undecodable = False
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            if col.path_in_schema != column:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                missing = True
                continue
            lo, hi = st.min, st.max
            try:
                if isinstance(lo, bytes):
                    lo = lo.decode("utf-8", "strict")
                if isinstance(hi, bytes):
                    hi = hi.decode("utf-8", "strict")
            except UnicodeDecodeError:
                undecodable = True  # conservatively: always scan this file
                continue
            mins.append(str(lo))
            maxs.append(str(hi))
    if undecodable:
        rng: tuple[str, str] | _Undecodable | None = UNDECODABLE
    elif mins and not missing:
        rng = (min(mins), max(maxs))
    else:
        rng = None
    return rng, md.num_rows


def dir_stats(dirpath: str, column: str) -> tuple[tuple[str, str] | None, int]:
    """(union key range, summed num_rows) over the ``*.parquet`` files of
    one written dir. The range is None when any file lacks a usable range
    (missing or undecodable stats, or no rows at all), so a caller that
    prunes on it includes the dir conservatively. Unreadable footers raise;
    callers decide whether that means "scan it" or "unknown"."""
    lo: str | None = None
    hi: str | None = None
    usable = True
    rows = 0
    for name in sorted(os.listdir(dirpath)):
        if not name.endswith(".parquet"):
            continue
        rng, n = footer_stats(os.path.join(dirpath, name), column)
        rows += n
        if not isinstance(rng, tuple):
            usable = False
            continue
        lo = rng[0] if lo is None else min(lo, rng[0])
        hi = rng[1] if hi is None else max(hi, rng[1])
    if not usable or lo is None or hi is None:
        return None, rows
    return (lo, hi), rows


def row_count(paths: Iterable[str]) -> int:
    """Summed footer ``num_rows`` over an explicit list of parquet files. A
    file that raises ``OSError`` (removed by a racing publish between the
    caller's listing and this read) is skipped: the next call sees the
    settled file set."""
    import pyarrow.parquet as pq

    rows = 0
    for path in paths:
        try:
            rows += pq.ParquetFile(path).metadata.num_rows
        except OSError:
            continue
    return rows
