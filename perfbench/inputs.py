"""Seeded benchmark inputs, generated once per (workload input, scale,
seed) and cached inside the checkout.

Every input comes from ``ts_pymfe_spark.synth.gen_conv`` with
``text_mode="light"`` — the per-conversation generator that
``synth.gen_turns`` maps over, so the rows are the ones ``gen_turns``
would produce for the same conversation indices.  Generation runs on
the driver in pandas (no Spark session needed), which is several times
cheaper than the distributed path at these sizes.

Cache safety:
  * a cache entry is written to a private temp directory and renamed
    into place, so a crashed or interrupted generation never leaves a
    half-written entry that a later run would read;
  * each entry stores a fingerprint (row count plus a SHA-256 over the
    file bytes) that is verified on every run; a mismatch regenerates.
    The file name starts with ``_`` so Spark's file sources skip it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ts_pymfe_spark import synth

TURNS_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def gen_convs(indices, sf: float, seed: int) -> pd.DataFrame:
    """Turns of the given conversation indices (``gen_turns`` rows)."""
    return pd.concat(
        [synth.gen_conv(int(i), sf, seed, text_mode="light") for i in indices],
        ignore_index=True,
    )


def to_table(pdf: pd.DataFrame) -> pa.Table:
    """Turns as Arrow.  ``ts`` is written UTC-adjusted so Spark reads it
    as TimestampType, exactly the rows ``gen_turns`` yields."""
    return pa.Table.from_pandas(pdf, schema=TURNS_ARROW_SCHEMA,
                                preserve_index=False)


@dataclass(frozen=True)
class InputSpec:
    """A named input: ``build(seed)`` returns {relative path: arrow
    table}."""

    key: str
    build: Callable[[int], dict[str, pa.Table]]


@dataclass(frozen=True)
class Input:
    path: str
    rows: int
    digest: str
    gen_s: float          # 0.0 when served from the cache
    verify_s: float


def _fingerprint(path: str) -> tuple[int, str]:
    """(rows, SHA-256 over relative names and bytes) of every parquet
    file under ``path``."""
    h = hashlib.sha256()
    rows = 0
    files = sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    for rel in files:
        f = os.path.join(path, rel)
        rows += pq.ParquetFile(f).metadata.num_rows
        h.update(rel.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return rows, h.hexdigest()


def ensure(spec: InputSpec, seed: int, cache_root: str) -> Input:
    """Return the cached input for ``(spec, seed)``, generating it on a
    miss or when the stored fingerprint no longer matches the files."""
    final = os.path.join(cache_root, f"{spec.key}-seed{seed}")
    meta_path = os.path.join(final, "_fingerprint.json")
    t0 = time.perf_counter()
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        rows, digest = _fingerprint(final)
        if rows == meta["rows"] and digest == meta["sha256"] and rows > 0:
            return Input(final, rows, digest, 0.0, time.perf_counter() - t0)
    shutil.rmtree(final, ignore_errors=True)

    t0 = time.perf_counter()
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        tables = spec.build(seed)
        for name, table in tables.items():
            dest = os.path.join(tmp, name)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            pq.write_table(table, dest)
        rows, digest = _fingerprint(tmp)
        if rows == 0:
            raise RuntimeError(
                f"input {spec.key} seed {seed} generated 0 rows")
        with open(os.path.join(tmp, "_fingerprint.json"), "w") as fh:
            json.dump({"rows": rows, "sha256": digest, "seed": seed}, fh)
        os.rename(tmp, final)  # atomic publish of the complete entry
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    gen_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    rows, digest = _fingerprint(final)
    return Input(final, rows, digest, gen_s, time.perf_counter() - t1)


def read_turns(path: str) -> pd.DataFrame:
    """Turns as pandas with naive UTC timestamps, like Spark's toPandas."""
    pdf = pd.read_parquet(path)
    pdf["ts"] = pdf["ts"].dt.tz_convert("UTC").dt.tz_localize(None)
    return pdf


def split_round_robin(pdf: pd.DataFrame, n_files: int) -> dict[str, pa.Table]:
    """Stream input: turn i goes to file i mod n_files, so every
    conversation straddles every micro-batch boundary."""
    table = to_table(pdf)
    part = pa.array(pd.RangeIndex(len(pdf)).to_numpy() % n_files)
    out = {}
    for i in range(n_files):
        mask = pc.equal(part, i)
        out[f"part-{i:03d}.parquet"] = table.filter(mask)
    return out
