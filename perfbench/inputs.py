"""Seeded benchmark inputs, generated without Spark and cached by seed.

Every input is a pure function of ``(workload, seed, size)``. Generation
uses no Spark, so it neither shows in any timing nor warms the JVM that
the cold first operation is meant to measure. The expected outputs are
computed here too, independently of the program under test.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from invalid_spark import synth

# ---------------------------------------------------------------------------
# images_validate

IMAGE_ROWS = 10000
IMAGE_FILES = 8
SHARDS = 32


def _image_rows(lo: int, hi: int, seed: int, prev: bool) -> list[dict]:
    rows = []
    for i in range(lo, hi):
        if prev:
            # synth.images_prev_df(drifted=True): the prior snapshot has
            # w/h shifted by +4 px and a two-format mix
            r = synth.make_row(i, seed)
            r["w"] += 4
            r["h"] += 4
            r["fmt"] = "png" if i % 2 == 0 else "jpeg"
        else:
            r = synth.make_row(i, seed, skew=True)
        rows.append(r)
    return rows


def _image_frame(n: int, seed: int, prev: bool) -> pd.DataFrame:
    # encoding and hashing each image is pure Python: split the rows
    # over one worker process per core (the session is not started yet)
    procs = len(os.sched_getaffinity(0))
    bounds = np.linspace(0, n, 4 * procs + 1).astype(int)
    ctx = multiprocessing.get_context("fork")
    pool = ctx.Pool(procs)
    try:
        parts = pool.starmap(
            _image_rows,
            [(int(lo), int(hi), seed, prev) for lo, hi in zip(bounds, bounds[1:])],
        )
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    df = pd.DataFrame([r for part in parts for r in part])
    df["w"] = df["w"].astype("int32")
    df["h"] = df["h"].astype("int32")
    return df


def _shard(image_ids: pd.Series, seed: int) -> pd.Series:
    # a seeded hash of the id, independent of the planted violations
    h = pd.util.hash_pandas_object(image_ids, index=False, hash_key=f"{seed % 10**16:016d}")
    return (h % SHARDS).map(lambda s: f"s{int(s):02d}")


def _write_files(df: pd.DataFrame, path: str, n_files: int) -> list[int]:
    os.makedirs(path)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    sizes = []
    for k in range(n_files):
        part = df.iloc[bounds[k]:bounds[k + 1]]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )
        sizes.append(len(part))
    return sizes


def expected_image_violations(df: pd.DataFrame) -> dict[str, int]:
    """Violation counts by error type, derived from the generated rows
    (row rules, uniqueness, references) and from the planted kinds
    (decode, dimension and pixel checks need a decoder, so their
    expectation comes from :func:`synth.violation_indices`)."""
    n = len(df)
    lic = {k for k, _ in synth.LICENSES}
    corrupt = set(synth.violation_indices(n, "corrupt"))
    range_w = set(synth.violation_indices(n, "range_w"))
    # the hot-key rows (skew=True) store a phash the recompute rejects
    phash_bad = set(synth.violation_indices(n, "phash_bit")) | set(range(9, n, 10))
    exp = {
        "regMismatch": int((~df["image_id"].str.fullmatch(r"img-[0-9]{12}")).sum()),
        "rangeMismatch": int(
            ((df["w"] < 1) | (df["w"] > 100000)).sum()
            + ((df["h"] < 1) | (df["h"] > 100000)).sum()
        ),
        "ofMismatch": int((~df["fmt"].isin(["png", "jpeg", "webp"])).sum()),
        "strLengthMismatch": int(
            ((df["caption"].str.len() < 1) | (df["caption"].str.len() > 10000)).sum()
        ),
        "refMismatch": int((~df["license_id"].isin(lic)).sum()),
        "uniqueMismatch": int(
            df["image_id"].duplicated(keep=False).sum()
            + df["phash"].duplicated(keep=False).sum()
        ),
        "decodeError": len(corrupt),
        "typeMismatch": len(range_w - corrupt),
        "pixelMismatch": len(phash_bad - corrupt),
    }
    return {k: v for k, v in exp.items() if v}


def make_images(root: str, seed: int, n: int = IMAGE_ROWS) -> dict:
    cur = _image_frame(n, seed, prev=False)
    cur["shard"] = _shard(cur["image_id"], seed)
    prev = _image_frame(n, seed, prev=True)
    lic = pd.DataFrame(synth.LICENSES, columns=["license_id", "redistributable"])
    files = _write_files(cur, os.path.join(root, "images"), IMAGE_FILES)
    _write_files(prev, os.path.join(root, "images_prev"), IMAGE_FILES)
    _write_files(lic, os.path.join(root, "licenses"), 1)
    return {
        "rows": n,
        "files": files,
        "shards": int(cur["shard"].nunique()),
        "expected": expected_image_violations(cur),
        "drifted": {"w": True, "fmt": True},
    }


# ---------------------------------------------------------------------------
# docs_curate

DOC_ROWS = 300
DOC_FILES = 4
NEAR_EVERY = 25

_TOPIC = (
    "batch part spark line column order small sort value scan hash slow "
    "group fast agg filter query big key window row table stream merge "
    "data join vector customer"
).split()
_STOP = {
    "en": "the and of to in is that for with a".split(),
    "de": "der die das und ist nicht ein zu mit von".split(),
    "fr": "le la les et est une des pour dans que".split(),
    "es": "el los las es una para con por del como".split(),
}
_CJK = [chr(c) for c in range(0x4E00, 0x4E40)]
_LANGS = ["en", "de", "fr", "es", "zh", "und"]
_LANG_P = [0.45, 0.13, 0.13, 0.13, 0.08, 0.08]


def _doc_text(rng: np.random.Generator, lang: str) -> list[str]:
    n = int(rng.integers(6, 90))  # under 10 tokens fails the quality gate
    toks = [_TOPIC[int(k)] for k in rng.integers(0, len(_TOPIC), n)]
    if lang in _STOP:
        stop = _STOP[lang]
        for j in np.flatnonzero(rng.random(n) < 0.25):
            toks[j] = stop[int(rng.integers(0, len(stop)))]
    elif lang == "zh":
        for j in np.flatnonzero(rng.random(n) < 0.5):
            toks[j] = "".join(rng.choice(_CJK, 3))
    return toks


def make_docs(root: str, seed: int, n: int = DOC_ROWS) -> dict:
    """Documents with a language mix, short (low-quality) texts and
    planted near duplicates: every 25th document is an earlier long
    document in an accepted language with one token changed, each
    source used once, so the near-dup clusters are pairs whatever the
    seed. The exact duplicates are planted at run time, as in the
    ``q_curate_documents`` entry query."""
    rng = np.random.default_rng(seed)
    texts, langs, sources = [], [], []
    for i in range(n):
        if i % NEAR_EVERY == NEAR_EVERY - 1:
            j = sources.pop(int(rng.integers(0, len(sources))))
            toks = texts[j].split(" ")
            k = int(rng.integers(0, len(toks)))
            toks[k] = str(rng.choice([w for w in _TOPIC if w != toks[k]]))
            lang = langs[j]
        else:
            lang = _LANGS[int(rng.choice(len(_LANGS), p=_LANG_P))]
            toks = _doc_text(rng, lang)
            # 60+ tokens keep a one-token change above Jaccard 0.9
            if lang != "und" and len(toks) >= 60:
                sources.append(i)
        texts.append(" ".join(toks))
        langs.append(lang)
    df = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{int(k)}" for k in rng.integers(0, 5, n)],
    })
    df["n_chars"] = df["text"].str.len().astype("int64")
    path = os.path.join(root, "documents")
    files = _write_files(df, path, DOC_FILES)
    return {
        "rows": n,
        "files": files,
        "planted_near_dups": n // NEAR_EVERY,
        "expected": _curate_oracle(path),
    }


def _curate_oracle(path: str) -> dict[str, list]:
    """``__spark_entry__``'s DuckDB oracle for ``q_curate_documents``
    over the same parquet: ``{id: [keep, reason]}``."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{path}/*.parquet')"
        )
        rows = con.execute(entry._sql_curate_documents()).fetchall()
    finally:
        con.close()
    return {str(i): [bool(k), r] for i, r, k in rows}


# ---------------------------------------------------------------------------

MAKERS = {"images_validate": make_images, "docs_curate": make_docs}


def ensure(cache_dir: str, workload: str, seed: int) -> tuple[str, dict]:
    """Inputs for ``(workload, seed)`` under ``cache_dir``; built once."""
    root = os.path.join(cache_dir, f"{workload}-seed{seed}")
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{root}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = MAKERS[workload](tmp, seed)
        with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as f:
            json.dump(meta, f)
        if os.path.exists(meta_path):  # another run built it meanwhile
            shutil.rmtree(tmp)
        else:
            os.replace(tmp, root)
    with open(meta_path, encoding="utf-8") as f:
        return root, json.load(f)

