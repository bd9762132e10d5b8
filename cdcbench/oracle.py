"""Expected outputs computed apart from the engine, and the comparisons.

DuckDB reads the generated input files directly: the visible state is the
latest event per ``(repo, path)`` by max ``_seq``, dropped when that event
is a delete; the view is a ``GROUP BY lang`` over that state. Every check
returns a list of problems (empty = passed) so a caller can run them on a
deliberately corrupted copy and see them fail.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

KEY = ["repo", "path"]
STATE_COLS = ["repo", "path", "commit", "lang", "content", "_seq", "_op", "_ts_us"]
VIEW_COLS = ["lang", "n_rows", "sum_seq", "max_seq"]


def _files_sql(files: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def state(files: list[str], probes: list[dict] | None = None) -> pa.Table:
    """Visible rows after applying every event of ``files``, optionally
    restricted to the probed keys."""
    key_filter = "TRUE"
    if probes:
        key_filter = " OR ".join(
            f"(repo = '{p['repo']}' AND path = '{p['path']}')" for p in probes
        )
    sql = f"""
        SELECT repo, path, commit, lang, content, _seq, _op,
               epoch_us(_ts) AS _ts_us
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY repo, path ORDER BY _seq DESC) AS rn
            FROM {_files_sql(files)}
            WHERE {key_filter}
        )
        WHERE rn = 1 AND _op <> 'D'
        ORDER BY repo, path
    """
    with duckdb.connect() as con:
        return con.sql(sql).arrow()


def only_keys(state_rows: pa.Table, probes: list[dict]) -> pa.Table:
    """The rows of a computed state whose key is probed."""
    keys = {(p["repo"], p["path"]) for p in probes}
    mask = [k in keys for k in zip(state_rows["repo"].to_pylist(), state_rows["path"].to_pylist())]
    return state_rows.filter(pa.array(mask, type=pa.bool_()))


def view(state_rows: pa.Table) -> pa.Table:
    """COUNT(*), SUM(_seq), MAX(_seq) by lang over a visible state."""
    with duckdb.connect() as con:
        con.register("s", state_rows)
        return con.sql(
            "SELECT lang, count(*)::BIGINT AS n_rows, sum(_seq)::BIGINT AS sum_seq, "
            "max(_seq)::BIGINT AS max_seq FROM s GROUP BY lang ORDER BY lang"
        ).arrow()


def _canon(t: pa.Table, cols: list[str], sort: list[str]) -> pa.Table:
    t = t.select(cols)
    schema = pa.schema(
        [(c, pa.int64() if pa.types.is_integer(t.schema.field(c).type) else pa.string())
         for c in cols]
    )
    return t.cast(schema).sort_by([(c, "ascending") for c in sort])


def same_rows(what: str, got: pa.Table, want: pa.Table, cols: list[str], sort: list[str]) -> list[str]:
    g, w = _canon(got, cols, sort), _canon(want, cols, sort)
    if g.equals(w):
        return []
    gk = {tuple(r[c] for c in sort) for r in g.select(sort).to_pylist()}
    wk = {tuple(r[c] for c in sort) for r in w.select(sort).to_pylist()}
    missing, extra = sorted(wk - gk)[:3], sorted(gk - wk)[:3]
    return [
        f"{what}: engine has {g.num_rows} rows, oracle {w.num_rows}; "
        f"missing {missing}, unexpected {extra}"
        + ("" if missing or extra else "; same keys, different values")
    ]


def check_state(what: str, got: pa.Table, want: pa.Table) -> list[str]:
    return same_rows(what, got, want, STATE_COLS, KEY)


def check_view(what: str, got: pa.Table, want: pa.Table) -> list[str]:
    return same_rows(what, got, want, VIEW_COLS, ["lang"])


def check_accounting(events_in: list[int], rows_in: list[int]) -> list[str]:
    """``events_in``: events of each non-empty input handed to the engine;
    ``rows_in``: the engine's committed records, one per batch or epoch."""
    out = []
    if len(rows_in) != len(events_in):
        out.append(f"accounting: {len(rows_in)} committed batches for {len(events_in)} inputs")
    if sum(rows_in) != sum(events_in):
        out.append(f"accounting: rows_in sums to {sum(rows_in)}, {sum(events_in)} events handed in")
    return out


def check_redelivery(before: str, after: str) -> list[str]:
    if before == after:
        return []
    return [f"redelivery: snapshot_hash {before} became {after} after re-applying the last batch"]
