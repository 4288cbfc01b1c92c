"""Correctness gate: the oracle state of each generated log, computed once per
seed and cached on disk, and the comparisons every run makes against it.

Nothing here runs inside a timed region or inside ``setup_s``."""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import functions as F

KEY_SEP = "\x00"
# The oracle's output depends on the generator, the oracle and the shared
# schemas; a change to any of them must not reuse a stale cached state.
ORACLE_SOURCES = ("generate.py", "oracle.py", "schemas.py")


def _sha(text: str | None) -> str:
    return hashlib.sha256((text or "").encode("utf-8")).hexdigest()


def oracle_state(cache_dir: str, log_dir: str, log_params: dict) -> dict:
    """{(repo, path): row} of the log's final state, from the pure-Python
    oracle, cached under a key of the log parameters and oracle sources."""
    import pyspark_cdc
    from pyspark_cdc import oracle

    pkg = os.path.dirname(pyspark_cdc.__file__)
    h = hashlib.sha256(json.dumps(log_params, sort_keys=True).encode())
    for name in ORACLE_SOURCES:
        with open(os.path.join(pkg, name), "rb") as f:
            h.update(f.read())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:24]}.json")
    if os.path.exists(path):
        with open(path) as f:
            rows = json.load(f)
    else:
        state = oracle.replay_parquet_log(log_dir)["state"]
        rows = {KEY_SEP.join(k): v for k, v in state.items()}
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(rows, f)
        os.replace(tmp, path)
    return {tuple(k.split(KEY_SEP)): v for k, v in rows.items()}


def digest(rows: dict) -> dict:
    """{(repo, path): sha256(content)} of a {key: row} state."""
    return {k: _sha(r.get("content")) for k, r in rows.items()}


def engine_digest(df) -> dict:
    """{(repo, path): sha256(content)} of a lake or index DataFrame."""
    rows = df.select(
        "repo", "path", F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("h")
    ).collect()
    return {(r["repo"], r["path"]): r["h"] for r in rows}


def rows_equal(got: dict, want: dict) -> bool:
    """Engine row vs oracle row, as tests/test_e2e.py compares them: every
    oracle column and every non-null engine column must agree."""
    cols = set(want) | {c for c, v in got.items() if v is not None}
    return all(got.get(c) == want.get(c) for c in cols)


def lookup_ok(rows: list, keys: list[tuple[str, str]], state: dict) -> bool:
    """A (multi-)lookup returned exactly the oracle rows of its live keys."""
    got = {(r["repo"], r["path"]): r.asDict() for r in rows}
    if len(got) != len(rows):
        return False
    want = {k: state[k] for k in keys if k in state}
    return set(got) == set(want) and all(rows_equal(got[k], want[k]) for k in want)


def apply_changes(from_digest: dict, change_rows: list) -> dict:
    """The from-state digest with a read_changes result applied to it."""
    out = dict(from_digest)
    for r in change_rows:
        key = (r["repo"], r["path"])
        if r["_change_type"] == "delete":
            out.pop(key, None)
        else:
            out[key] = _sha(r["content"])
    return out
