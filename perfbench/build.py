"""One-time build of the benchmark's inputs inside the checkout.

Generates the fixed star-schema tables (``datagen``) and computes each
benchmarked query's DuckDB oracle result, so every later run compares its
Spark results against a frame computed by an independent engine without
paying the oracle cost again. The tables go under
``.bench_build/perfbench/<scale>-<generator hash>/tables`` and the oracle
frames beside them in ``oracle-<oracle sources hash>.pkl``, so a change
to the generator or to an oracle rebuilds what depends on it.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import pickle
import shutil

import datagen

SCALES = {"bench": 0.01, "tiny": 0.001}


def _oracle_sources(names: list[str]) -> dict:
    from pb_etl_spark.registry import all_oracles
    from tools.check_oracle import BIG_SF_ORACLES

    # the deletion-key variants give identical pair sets at O(n·L) cost
    oracles = {**all_oracles(), **BIG_SF_ORACLES}
    missing = [n for n in names if n not in oracles]
    if missing:
        raise SystemExit(f"no oracle for benchmarked queries: {missing}")
    return {n: oracles[n] for n in names}


def _digest(parts: list[bytes]) -> str:
    h = hashlib.sha256()
    for part in parts:
        h.update(part + b"\x00")
    return h.hexdigest()[:12]


def ensure(build_root: str, scale: str, query_names: list[str]) -> tuple[str, dict]:
    """Build (once) and load the inputs; returns (sf_dir, oracle frames)."""
    with open(datagen.__file__, "rb") as fh:
        base = os.path.join(build_root, f"{scale}-{_digest([scale.encode(), fh.read()])}")
    sf_dir = os.path.join(base, "tables")
    if not os.path.isdir(sf_dir):
        tmp = f"{sf_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(tmp, SCALES[scale])
        os.rename(tmp, sf_dir)
    if not query_names:
        return sf_dir, {}

    oracles = _oracle_sources(query_names)
    key = _digest([
        f"{n}={src if isinstance(src, str) else inspect.getsource(src)}".encode()
        for n, src in sorted(oracles.items())
    ])
    frames_path = os.path.join(base, f"oracle-{key}.pkl")
    if not os.path.exists(frames_path):
        frames = _compute_oracles(sf_dir, oracles)
        with open(frames_path + f".tmp{os.getpid()}", "wb") as fh:
            pickle.dump(frames, fh)
        os.rename(frames_path + f".tmp{os.getpid()}", frames_path)
    # written by _compute_oracles above, in this checkout
    with open(frames_path, "rb") as fh:
        return sf_dir, pickle.load(fh)


def _compute_oracles(sf_dir: str, oracles: dict) -> dict:
    from tools.check_oracle import duck_con

    con = duck_con(sf_dir)
    con.execute("SET threads TO 4")
    try:
        return {
            name: src(con) if callable(src) else con.execute(src).fetchdf()
            for name, src in oracles.items()
        }
    finally:
        con.close()
