"""Prototype: row-local repetition signals (l21/l22 family) — per-document
array expressions instead of 3 explode→aggregate legs + 2 joins."""

from __future__ import annotations

import pyspark.sql.functions as F

LINE_WORDS = 4


def words_sql(text: str, newlines: bool) -> str:
    if newlines:
        return f"filter(split({text}, '[ \\n\\r]'), x -> x != '')"
    return f"split({text}, ' ')"


def lines_sql(text: str, newlines: bool, line_words: int = LINE_WORDS) -> str:
    if newlines:
        return f"filter(split({text}, '\\r?\\n'), l -> l != '')"
    w = f"split({text}, ' ')"
    return (
        f"filter(transform(sequence(0, cast(ceil(size({w}) / {line_words}.0)"
        f" as int) - 1), g -> array_join(slice({w}, g * {line_words} + 1,"
        f" {line_words}), ' ')), l -> l != '')"
    )


def maxrun_sql(arr: str) -> str:
    """max occurrence count of any element in ``arr`` (exact): sort, then a
    run-length fold. NULL-safe: caller guards empties."""
    return (
        f"aggregate(array_sort({arr}),"
        f" named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),"
        f" (acc, x) -> named_struct("
        f"   'prev', x,"
        f"   'run', if(acc.prev <=> x, acc.run + 1L, 1L),"
        f"   'best', greatest(acc.best, if(acc.prev <=> x, acc.run + 1L, 1L))),"
        f" acc -> acc.best)"
    )


def grams_sql(w: str, n: int) -> str:
    return (
        f"transform(sequence(0, size({w}) - {n}),"
        f" i -> array_join(slice({w}, i + 1, {n}), ' '))"
    )


def signal_exprs(text: str, newlines: bool, line_words: int = LINE_WORDS) -> dict:
    """Column-name -> SQL expression string for every l21 signal. All
    row-local; NULL semantics mirror the relational legs' join misses."""
    ln = lines_sql(text, newlines, line_words)
    w = words_sql(text, newlines)
    # bind arrays via a named lambda trick is not available in SQL exprs;
    # rely on codegen/interpreted CSE for repeated references.
    dln = f"array_distinct({ln})"
    n_lines = f"size({ln})"
    has_lines = f"(size({ln}) > 0)"
    n_chars = f"aggregate({ln}, 0L, (a, l) -> a + length(l))"
    d_chars = f"aggregate({dln}, 0L, (a, l) -> a + length(l))"
    n_dup_lines = f"(size({ln}) - size({dln}))"
    n_bullet = f"size(filter({ln}, l -> l rlike '^[-*•]'))"
    n_ellipsis = f"size(filter({ln}, l -> l rlike '(\\\\.\\\\.\\\\.|…)$'))"
    g2 = grams_sql(w, 2)
    g3 = grams_sql(w, 3)
    share2 = (
        f"CASE WHEN {w} IS NOT NULL AND size({w}) >= 2 THEN"
        f" cast({maxrun_sql(g2)} as double) / (size({w}) - 1)"
        f" ELSE cast(null as double) END"
    )
    share3 = (
        f"CASE WHEN {w} IS NOT NULL AND size({w}) >= 3 THEN"
        f" cast({maxrun_sql(g3)} as double) / (size({w}) - 2)"
        f" ELSE cast(null as double) END"
    )

    def guarded(e, cast=None):
        c = f"cast({e} as {cast})" if cast else e
        return f"CASE WHEN {has_lines} THEN {c} ELSE NULL END"

    return {
        "n_lines": f"coalesce({guarded(n_lines, 'bigint')}, 0L)",
        "n_dup_lines": f"coalesce({guarded(n_dup_lines, 'bigint')}, 0L)",
        "dup_line_frac": guarded(
            f"cast({n_dup_lines} as double) / {n_lines}"
        ),
        "dup_char_frac": guarded(
            f"cast(({n_chars} - {d_chars}) as double) / {n_chars}"
        ),
        "top_2gram_share": share2,
        "top_3gram_share": share3,
        "bullet_line_frac": guarded(f"cast({n_bullet} as double) / {n_lines}"),
        "ellipsis_line_frac": guarded(
            f"cast({n_ellipsis} as double) / {n_lines}"
        ),
    }


def repetition_signals_rowlocal(docs, text_col="text", id_col="doc_id", newlines=False):
    exprs = signal_exprs(text_col, newlines)
    return docs.select(
        F.col(id_col), *[F.expr(e).alias(name) for name, e in exprs.items()]
    )


if __name__ == "__main__":
    import sys

    sys.path.insert(0, "/root/repo")
    sys.path.insert(0, "/root/repo/tools")
    from datalakejson_spark.session import get_spark
    from datalakejson_spark.sources.tables import load_table, spread_scan
    from datalakejson_spark.functions.curation import (
        repetition_signals,
        _derived_newline_docs,
    )
    import ab

    spark = get_spark("ab-rowlocal")
    for sfd in ("/root/testdata/sf0.01", "/root/testdata/sf0.1", "/tmp/datalakejson_sf1"):
        base_w = lambda s, d: repetition_signals(load_table(s, d, "documents"))
        opt_w = lambda s, d: repetition_signals_rowlocal(
            spread_scan(load_table(s, d, "documents"), "doc_id")
        )
        ab.ab(spark, f"l21 rowlocal (window mode)", base_w, opt_w, sfd, 3)
        base_n = lambda s, d: repetition_signals(_derived_newline_docs(s, d), newlines=True)
        opt_n = lambda s, d: repetition_signals_rowlocal(
            spread_scan(_derived_newline_docs(s, d), "doc_id"), newlines=True
        )
        ab.ab(spark, f"l21b rowlocal (newline mode)", base_n, opt_n, sfd, 3)
    spark.stop()
