"""Seeded input generator for the benchmark workloads.

One process, numpy + pyarrow only: the program under test never sees the
generator, only the parquet it writes. The same ``(workload, seed, size)``
always yields byte-identical tables; outputs are cached under
``.bench_data/<workload>-<size>-s<seed>-g<generator crc>/`` in the working
directory, with a ``manifest.json`` of row counts and bytes per table.

Schemas and value domains follow FIXTURES.md: the ``documents`` corpus
(section A, with a Zipf-skewed vocabulary and planted near-duplicate
clusters so that token sharing is selective) and the Mongo-shaped nested
``source`` of section B with its pathological rows 1-5.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Per-workload sizes. "bench" is what the timed runs use; "smoke" is the
# smallest input on which every op still produces rows, for the self-check.
SIZES = {
    "etl_backfill": {"bench": {"docs": 6_000}, "smoke": {"docs": 2_000}},
    "text_curation": {"bench": {"docs": 300}, "smoke": {"docs": 120}},
}

ETL_T0 = dt.datetime(2024, 1, 1)
DAY = dt.timedelta(days=1)


ETL_DAYS = 3


def etl_windows() -> list[tuple[str, str]]:
    """Run order: days 0-2, then days 1-3. The second window re-extracts
    the keys of day 1, which the first already landed, and lands day 2.
    Two batches keep a run inside its time budget."""
    fmt = "%Y-%m-%d %H:%M:%S"
    wins = [(ETL_T0, ETL_T0 + 2 * DAY), (ETL_T0 + DAY, ETL_T0 + ETL_DAYS * DAY)]
    return [(a.strftime(fmt), b.strftime(fmt)) for a, b in wins]


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([zlib.crc32(workload.encode()), seed])


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us") + (seconds * 1e6).astype("int64").astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def _write(tables: dict[str, pa.Table], out: str) -> dict:
    manifest = {}
    for name, tbl in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(tbl, path)
        manifest[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return manifest


# -- text_curation: documents ------------------------------------------------

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "po", "da", "gu"]


def _vocab(n: int) -> np.ndarray:
    """A fixed vocabulary of ``n`` distinct pronounceable words (seed-free)."""
    words, k = [], len(_SYL)
    for i in range(n):
        w, j = "", i + k
        while j:
            w += _SYL[j % k]
            j //= k
        words.append(w)
    return np.array(words)


def gen_documents(rng: np.random.Generator, n_docs: int) -> dict[str, pa.Table]:
    vocab = _vocab(3000)
    # Zipf over the vocabulary: a few function-word-like tokens, a long tail
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    texts: list[list[str]] = []
    for _ in range(n_docs):
        # ~25% of docs are edited copies of an earlier doc: near-dup clusters
        if texts and rng.random() < 0.25:
            doc = list(texts[rng.integers(0, len(texts))])
            for i in np.flatnonzero(rng.random(len(doc)) < 0.02):
                doc[i] = vocab[rng.choice(len(vocab), p=p)]
        else:
            n_tok = int(rng.integers(10, 101))
            doc = list(vocab[rng.choice(len(vocab), n_tok, p=p)])
        texts.append(doc)
    strs = [" ".join(t) for t in texts]
    return {"documents": pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": strs,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[
            rng.choice(5, n_docs, p=[0.1, 0.6, 0.1, 0.1, 0.1])],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(s) for s in strs], dtype="int64"),
    })}


# -- etl_backfill: the Mongo-shaped nested source ----------------------------

_BY = pa.struct([("id", pa.string()), ("name", pa.string()),
                 ("role", pa.string()), ("client", pa.string())])
# statusChangedBy carries only two of the four flattened keys: pathological
# row 1 (missing struct fields -> typed NULL columns after flattening)
_BY_PARTIAL = pa.struct([("id", pa.string()), ("name", pa.string())])
_PARAMS = pa.struct([("k", pa.int32()), ("q", pa.string())])


def _by(rng, n, fields, null_frac):
    vals = []
    roles = ["admin", "agent", "system"]
    for i, u in enumerate(rng.integers(0, 500, n)):
        if rng.random() < null_frac:
            vals.append(None)
            continue
        full = {"id": f"u{u}", "name": f"user{u}", "role": roles[u % 3], "client": f"c{u % 7}"}
        vals.append({k: full[k] for k in fields})
    return vals


def gen_source(rng: np.random.Generator, n_docs: int) -> dict[str, pa.Table]:
    """The nested source plus the expected final mart (last writer wins)."""
    span = ETL_DAYS * 86400  # createdAt over the daily windows' range
    created = rng.integers(0, span, n_docs).astype("float64")
    # pathological row 5: timestamps exactly on a window edge: day 1 starts
    # the second window ($gte, included); day 2 ends the first (excluded)
    boundary = rng.random(n_docs) < 0.01
    created[boundary] = rng.choice([1.0, 2.0], boundary.sum()) * 86400.0
    updated: list[str | None] = [None] * n_docs
    upd_secs = np.full(n_docs, np.nan)
    kind = rng.random(n_docs)
    for i in range(n_docs):
        if kind[i] < 0.30:  # row 3: key updated in a later window
            later = created[i] + rng.integers(86400, 2 * 86400)
            if later < span:
                upd_secs[i] = later
        elif kind[i] < 0.35:  # row 4: created and updated in the same window
            day_end = (created[i] // 86400 + 1) * 86400
            upd_secs[i] = min(created[i] + rng.integers(0, 3600), day_end - 1)
        elif kind[i] < 0.36:  # row 2: unparseable timestamp string
            updated[i] = "not-a-date" if kind[i] < 0.355 else "2024-13-45 99:00:00"
        if not np.isnan(upd_secs[i]):
            updated[i] = (ETL_T0 + dt.timedelta(seconds=float(upd_secs[i]))).strftime(
                "%Y-%m-%d %H:%M:%S")
    ids = [f"{i:08x}{h:016x}" for i, h in enumerate(rng.integers(0, 2**63, n_docs))]
    countries = np.array(["MM", "TH", "SG", "VN", "JP", None], dtype=object)
    addr = [None if r < 0.05 else f"{n} Main St" for r, n in
            zip(rng.random(n_docs), rng.integers(1, 9999, n_docs))]
    src = pa.table({
        "_id": ids,
        "address": addr,
        "country": countries[rng.integers(0, len(countries), n_docs)],
        "createdAt": _ts(ETL_T0, created),
        "createdBy": pa.array(_by(rng, n_docs, ["id", "name", "role", "client"], 0.05), _BY),
        "email": [f"user{i}@example.com" if r > 0.02 else None
                  for i, r in enumerate(rng.random(n_docs))],
        "name": [f"name{v}" for v in rng.integers(0, 10**6, n_docs)],
        "phone": [f"+95{v:09d}" for v in rng.integers(0, 10**9, n_docs)],
        "requestParams": pa.array(
            [{"k": int(k), "q": f"q{k % 13}"} for k in rng.integers(0, 1000, n_docs)], _PARAMS),
        "settlement": np.array(["paid", "pending", "void"])[rng.integers(0, 3, n_docs)],
        "stateChangedAt": _ts(ETL_T0, created + 60),
        "status": np.array(["open", "closed", "hold"])[rng.integers(0, 3, n_docs)],
        "statusChangedAt": _ts(ETL_T0, created + 120),
        "statusChangedBy": pa.array(_by(rng, n_docs, ["id", "name"], 0.2), _BY_PARTIAL),
        "type": np.array(["a", "b", "c"])[rng.integers(0, 3, n_docs)],
        # Mongo legacy writers left updatedAt as text: the pipeline's J3
        # coercion must parse it, and unparseable values become NULL
        "updatedAt": pa.array(updated, pa.string()),
        "updatedBy": pa.array(_by(rng, n_docs, ["id", "name", "role", "client"], 0.5), _BY),
    })
    # expected mart: every doc lands (createdAt lies in a daily window); its
    # batch_run_id is the LAST window in run order whose predicate matched
    wins = [
        (
            (dt.datetime.fromisoformat(a) - ETL_T0).total_seconds(),
            (dt.datetime.fromisoformat(b) - ETL_T0).total_seconds(),
        )
        for a, b in etl_windows()
    ]
    last = np.full(n_docs, -1)
    for w, (a, b) in enumerate(wins):
        hit = ((created >= a) & (created < b)) | ((upd_secs >= a) & (upd_secs < b))
        last[hit] = w
    assert (last >= 0).all()
    expected = pa.table({
        "_id": ids,
        "batch_run_id": [etl_run_id(w) for w in last],
        "address": addr,
        "updatedat": pa.array(
            [u if not np.isnan(s) else None for u, s in zip(updated, upd_secs)], pa.string()),
        "createdby_id": pc.struct_field(src.column("createdBy"), "id"),
        "statuschangedby_role": pa.nulls(n_docs, pa.string()),
    })
    return {"source": src, "expected_mart": expected}


def etl_run_id(window_index: int) -> str:
    return f"w{window_index:02d}"


GENERATORS = {
    "etl_backfill": lambda rng, s: gen_source(rng, s["docs"]),
    "text_curation": lambda rng, s: gen_documents(rng, s["docs"]),
}


# Part of the cache key, so that inputs written by an older generator are
# never reused.
with open(__file__, "rb") as _fh:
    _GEN_CRC = zlib.crc32(_fh.read())


def generate(workload: str, seed: int, size: str = "bench", root: str = ".bench_data") -> tuple[str, dict]:
    """Write (or reuse) the inputs; return their directory and manifest.

    The manifest records ``gen_s``, the generation time of the run that
    actually wrote the files.
    """
    out = os.path.join(root, f"{workload}-{size}-s{seed}-g{_GEN_CRC:08x}")
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as fh:
            return out, json.load(fh)
    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = GENERATORS[workload](_rng(workload, seed), SIZES[workload][size])
    manifest = {"workload": workload, "seed": seed, "size": size,
                "params": SIZES[workload][size], "tables": _write(tables, tmp)}
    manifest["gen_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, manifest
