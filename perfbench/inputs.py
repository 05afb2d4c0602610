"""Benchmark inputs and their cached oracle results.

- The Landsat fixture set is produced once per checkout by the
  repository's own generators (``tools/make_fixtures.py``,
  ``make_pt_blobs.py``, ``make_real_pt.py``, generator seed 42) with
  ``SPARK_GRAFT_FIXTURE_DIR`` pointed into the benchmark's work
  directory and ``SPARK_GRAFT_FIXTURE_SCENES`` setting the scene count.
  It lives in a directory named after a digest of the generator sources
  and parameters, so a changed generator gets a fresh directory and an
  unchanged one is never rebuilt.
- The curation corpus is the engine's synthetic sf0.01 ``documents`` and
  ``embeddings`` tables (500 rows each), committed under ``data/sf0.01``
  so a run reads nothing outside its checkout.

The benchmark's own ``--seed`` changes neither set; it drives the split
and jitter seeds only. DuckDB oracle results are computed once per input
set and cached in the work directory, since they depend only on the
inputs.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CORPUS_DIR = os.path.join(HERE, "data", "sf0.01")

# 8 trap scenes + 24 generated ones: 32 scenes, 1,151 qualified samples.
GEN_SCENES = 24

_FIXTURE_TOOLS = ("make_fixtures.py", "make_pt_blobs.py", "make_real_pt.py")


def _digest(*parts: bytes) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p)
        h.update(b"\0")
    return h.hexdigest()[:12]


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def fixture_dir() -> str:
    tools = [_read(os.path.join(ROOT, "tools", t)) for t in _FIXTURE_TOOLS]
    tag = _digest(*tools, str(GEN_SCENES).encode())
    return os.path.join(WORK, f"fixtures_{tag}")


def _publish(tmp: str, final: str) -> None:
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write("ok\n")
    os.replace(tmp, final)


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_COMPLETE"))


def ensure_fixtures() -> tuple[str, float]:
    """Generate the Landsat fixture set unless present; returns
    (directory, seconds spent generating)."""
    final = fixture_dir()
    if _ready(final):
        return final, 0.0
    t0 = time.perf_counter()
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(
        os.environ,
        SPARK_GRAFT_FIXTURE_DIR=tmp,
        SPARK_GRAFT_FIXTURE_SCENES=str(GEN_SCENES),
    )
    for tool in _FIXTURE_TOOLS:
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", tool)],
            env=env,
            check=True,
            stdout=subprocess.DEVNULL,
        )
    _publish(tmp, final)
    return final, time.perf_counter() - t0


def corpus_docs() -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(os.path.join(CORPUS_DIR, "documents.parquet")).metadata.num_rows


# ---------------------------------------------------------------------------
# Oracle results, cached per input set
# ---------------------------------------------------------------------------


def _duck(sf_dir: str | None = None):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if sf_dir is not None:
        for name in sorted(os.listdir(sf_dir)):
            if name.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{sf_dir}/{name}'"
                )
    return con


def norm_cell(v):
    """One result cell in a form both engines agree on and JSON keeps."""
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return 0.0 if f == 0.0 else f
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def cached_oracle(key: str, sql: str, sf_dir: str | None = None):
    """(columns, normalized rows) of ``sql`` in DuckDB over the tables in
    ``sf_dir``, computed once per query text and table bytes. (The
    Landsat oracle SQL names its fixture directory, whose name is a
    digest of the generators.)"""
    tables = sorted(os.listdir(sf_dir)) if sf_dir else []
    tag = _digest(sql.encode(), *(_read(os.path.join(sf_dir, t)) for t in tables))
    path = os.path.join(WORK, f"oracle_{key}_{tag}.json")
    if not os.path.exists(path):
        con = _duck(sf_dir)
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = [[norm_cell(v) for v in r] for r in cur.fetchall()]
        con.close()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"columns": cols, "rows": rows}, f)
        os.replace(tmp, path)
    with open(path) as f:
        got = json.load(f)
    return got["columns"], [tuple(r) for r in got["rows"]]
