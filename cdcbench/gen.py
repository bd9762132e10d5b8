"""Seeded change-event inputs for the CDC ingest benchmark.

Every input is generated here with numpy + pyarrow and written to local
parquet before the engine starts; the engine only ever sees the files.
The same ``(workload, seed)`` always yields byte-identical events.

An event is one change to a ``(repo, path)`` key: a globally increasing
``_seq``, an op (``I`` on a key's first event, ``U`` after, ``D`` for a
delete), and a payload (``commit``, ``lang``, ``content``; deletes carry
a NULL ``content``). A redelivery is an exact copy of an earlier event,
``_seq`` included, as an at-least-once source produces.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["py", "rs", "go", "js", "ts", "java", "c", "cpp", "rb", "sql"]

# Spark DDL of an input file
EVENT_DDL = (
    "repo string, path string, commit string, lang string, content string, "
    "_seq long, _op string, _ts timestamp"
)
PAYLOAD = [("commit", "string"), ("lang", "string"), ("content", "string")]
TABLE_COLS = ["repo", "path", "commit", "lang", "content", "_seq", "_op", "_ts"]

_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
_TS0_US = 1_704_067_200 * 1_000_000


def _hex40(rng: np.random.Generator, n: int) -> pa.Array:
    """n random 40-hex-digit commit ids, vectorised."""
    raw = rng.integers(0, 256, size=(n, 20), dtype=np.uint8)
    out = np.empty((n, 40), dtype=np.uint8)
    out[:, 0::2] = _HEX[raw >> 4]
    out[:, 1::2] = _HEX[raw & 15]
    return pa.array(out.view("S40").ravel(), type=pa.binary()).cast(pa.string())


def _key_name(repo_idx: np.ndarray, path_idx: np.ndarray) -> tuple[pa.Array, pa.Array]:
    repo = pc.binary_join_element_wise(
        "repo-", pc.utf8_lpad(pa.array(repo_idx).cast(pa.string()), 5, "0"), ""
    )
    path = pc.binary_join_element_wise(
        "src/m", pa.array(path_idx % 97).cast(pa.string()),
        "/f", pa.array(path_idx).cast(pa.string()), ".py", "",
    )
    return repo, path


def make_events(
    seed: int,
    n: int,
    n_repos: int,
    paths_per_repo: int,
    dup_share: float = 0.0,
    delete_share: float = 0.0,
) -> pa.Table:
    """``n`` events in ``_seq`` order over ``n_repos * paths_per_repo``
    uniformly drawn keys. A ``dup_share`` of the events are redeliveries
    of an event up to 2000 positions earlier; a ``delete_share`` of the
    drawn events are deletes.
    """
    rng = np.random.default_rng(seed)
    repo_idx = rng.integers(0, n_repos, size=n)
    path_idx = rng.integers(0, paths_per_repo, size=n)
    key = repo_idx.astype(np.int64) * paths_per_repo + path_idx
    delete = rng.random(n) < delete_share
    lang = rng.integers(0, len(LANGS), size=n)
    mult = rng.integers(1, 1000, size=n)

    # I for a key's first event in _seq order, U after, D where drawn
    first = np.zeros(n, dtype=bool)
    first[np.unique(key, return_index=True)[1]] = True
    op = np.where(delete, 2, np.where(first, 0, 1))

    src = np.arange(n)
    back = rng.integers(1, 2001, size=n)
    dup = (rng.random(n) < dup_share) & (src >= back)
    src[dup] -= back[dup]
    while True:  # a redelivery of a redelivery copies the original
        nxt = src[src]
        if np.array_equal(nxt, src):
            break
        src = nxt

    seq = src.astype(np.int64)
    repo, path = _key_name(repo_idx[src], path_idx[src])
    lang_arr = pa.array(np.array(LANGS, dtype=object)[lang[src]], type=pa.string())
    commit = _hex40(rng, n).take(pa.array(src))
    body = pc.binary_join_element_wise(
        "def f_", pa.array(seq).cast(pa.string()), "(x):\n    return x * ",
        pa.array(mult[src]).cast(pa.string()), "  # ", lang_arr, " ", path, "",
    )
    is_del = op[src] == 2
    content = pc.if_else(pa.array(is_del), pa.nulls(n, pa.string()), body)
    op_arr = pa.array(np.array(["I", "U", "D"], dtype=object)[op[src]], type=pa.string())
    ts = pa.array(_TS0_US + seq * 3_000_000, type=pa.timestamp("us", tz="UTC"))
    return pa.table({
        "repo": repo, "path": path, "commit": commit, "lang": lang_arr,
        "content": content, "_seq": pa.array(seq), "_op": op_arr, "_ts": ts,
    })


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
