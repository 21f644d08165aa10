"""Correctness gates.  Each returns ``None`` when the output is right and a
one-line error otherwise; none of them runs inside a timed region."""

from __future__ import annotations

import math

import pyarrow.parquet as pq


def normalize(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, values canonicalized, rows sorted, as
    ``tools/check_oracle.py`` compares a registry query with its oracle."""
    from tools.check_oracle import _normalize  # imports duckdb: only once a check runs

    return _normalize(cols, list(rows))


def diff(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != expected {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != expected {len(wr)}"
    bad = [(a, b) for a, b in zip(gr, wr) if a != b]
    if bad:
        return f"{len(bad)} rows differ; first: got {bad[0][0]} expected {bad[0][1]}"
    return None


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    return normalize(cols, list(zip(*(table.column(c).to_pylist() for c in cols))))


# -- rows-only registry queries: invariants ---------------------------------

def minhash_pairs(table, n_docs: int, exact_pairs: list[tuple[int, int]]) -> str | None:
    """Pairs are distinct, ordered, in range, above the 0.3 threshold, and
    every planted exact duplicate is found with estimate 1.0."""
    a, b = table.column("doc_a").to_pylist(), table.column("doc_b").to_pylist()
    est = table.column("est_jaccard").to_pylist()
    pairs = list(zip(a, b))
    if len(set(pairs)) != len(pairs):
        return "duplicate pairs"
    if any(not (0 <= x < y < n_docs) for x, y in pairs):
        return "pair ids out of order or range"
    if any(not (0.3 <= e <= 1.0) for e in est):
        return "estimated jaccard outside [0.3, 1]"
    got = {p: e for p, e in zip(pairs, est)}
    missing = [p for p in exact_pairs if got.get(p) != 1.0]
    return f"{len(missing)} planted exact duplicates missed, e.g. {missing[0]}" if missing else None


# -- ads_daily_etl target tables ----------------------------------------------

def keyed_rows(cols: list[str], rows, keys: list[str]) -> tuple[list[str], dict]:
    """A table with unique ``keys`` as (sorted column names, key -> row of
    values in that column order); exact values, no canonicalization (both
    sides hold str, int, float, date or None)."""
    order = sorted(cols)
    ki, vi = [cols.index(k) for k in keys], [cols.index(c) for c in order]
    return order, {tuple(r[i] for i in ki): tuple(r[i] for i in vi) for r in rows}


def read_target(path: str, keys: list[str]) -> tuple[list[str], dict] | str:
    """The parquet table at ``path`` keyed by ``keys``, or an error if a
    key occurs twice."""
    table = pq.read_table(path)
    cols = table.column_names
    rows = list(zip(*(table.column(c).to_pylist() for c in cols)))
    out = keyed_rows(cols, rows, keys)
    dup = len(rows) - len(out[1])
    return f"{dup} duplicate upsert keys" if dup else out


def frame_keyed(df, keys: list[str]) -> tuple[list[str], dict]:
    rows = [tuple(None if _isnull(v) else v for v in r)
            for r in df.itertuples(index=False, name=None)]
    return keyed_rows(list(df.columns), rows, keys)


def _isnull(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def diff_keyed(got: tuple[list[str], dict], want: tuple[list[str], dict]) -> str | None:
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != expected {wc}"
    if gr == wr:
        return None
    missing, extra = wr.keys() - gr.keys(), gr.keys() - wr.keys()
    if missing or extra:
        return f"{len(missing)} keys missing, {len(extra)} unexpected"
    k = next(k for k in wr if gr[k] != wr[k])
    return f"key {k}: got {gr[k]} expected {wr[k]}"
