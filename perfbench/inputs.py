"""Seeded input generators for the benchmark workloads, cached on disk.

Every generator is a pure function of (seed, size): the same arguments
write byte-identical parquet files.  A generated input lives in
``<cache>/<kind>-s<seed>-n<size>/`` and is reused by later runs; the
directory is published with an atomic rename, so an interrupted
generation never leaves a half-written input behind.  ``meta.json`` in
that directory carries the measured properties of the input (the shares
the engine's behaviour depends on) and a content hash of its files.

The engine only ever sees the generated tables; planted labels are
written beside them for the output checks.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator's output changes, so stale caches regenerate.
VERSION = 2

# Pairs are generated as a small base table (the package generator costs
# ~1.2 ms/row in pure Python) tiled to the requested size.  Each tile
# XORs its phashes above the 20-bit bucket+sub-bucket window with a
# seeded 40-bit key, which keeps planted clusters inside their tile and
# the hot bucket shared by all tiles (the tiling bench.py uses).
PAIRS_BASE_ROWS = 2000
PAIRS_SHARDS = 16


def _write_single(df: pd.DataFrame, path: str) -> None:
    """One parquet file with ONE row group, like the sf fixtures."""
    t = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(t, path, row_group_size=max(1, len(df)))


def content_hash(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name == "meta.json":
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def scan_shape(path: str) -> dict:
    """File and row-group count of a parquet file or directory — the
    initial scan width Spark sees before the first exchange."""
    files = (
        [path]
        if os.path.isfile(path)
        else sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        )
    )
    groups = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    return {"files": len(files), "row_groups": groups}


def cached(cache_root: str, kind: str, seed: int, size: int, build) -> tuple[str, dict]:
    """-> (input dir, meta).  ``build(tmp_dir, seed, size)`` writes the
    tables into ``tmp_dir`` and returns their measured properties."""
    final = os.path.join(cache_root, f"{kind}-s{seed}-n{size}-v{VERSION}")
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return final, json.load(fh)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        props = build(tmp, seed, size)
        meta = {
            "kind": kind,
            "seed": seed,
            "size": size,
            "content_sha256": content_hash(tmp),
            "properties": props,
        }
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh, indent=1, sort_keys=True)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final, meta


# ---------------------------------------------------------------------------
# pairs: the image keep/drop/scrub table with planted labels
# ---------------------------------------------------------------------------


def build_pairs(root: str, seed: int, n_rows: int) -> dict:
    from stop_sync_osm_atlas_spark.fixtures.generator import (
        BUCKET_BITS,
        generate,
        write_fixture,
    )

    base_n = min(n_rows, PAIRS_BASE_ROWS)
    fx = generate(base_n, seed=seed)
    tiles = -(-n_rows // base_n)
    keys = np.random.default_rng([seed, 4242]).integers(
        0, 1 << 40, size=tiles, dtype=np.uint64
    )
    keys[0] = 0
    pairs, labels, overrides = [], [], []
    for t in range(tiles):
        prefix = f"t{t:03d}:"
        p = fx.pairs.copy()
        p["image_id"] = prefix + p["image_id"]
        ph = p["phash"].to_numpy().astype(np.uint64)
        p["phash"] = (ph ^ (keys[t] << np.uint64(20))).astype(np.int64)
        pairs.append(p)
        lab = fx.labels.copy()
        lab["image_id"] = prefix + lab["image_id"]
        lab["true_cluster_id"] = prefix + lab["true_cluster_id"]
        labels.append(lab)
        ov = fx.overrides.copy()
        ov["image_id"] = prefix + ov["image_id"]
        overrides.append(ov)
    fx.pairs = pd.concat(pairs, ignore_index=True).iloc[:n_rows]
    kept = set(fx.pairs["image_id"])
    fx.labels = pd.concat(labels, ignore_index=True)
    fx.labels = fx.labels[fx.labels["image_id"].isin(kept)].reset_index(drop=True)
    fx.overrides = pd.concat(overrides, ignore_index=True)
    fx.overrides = fx.overrides[fx.overrides["image_id"].isin(kept)].reset_index(
        drop=True
    )
    paths = write_fixture(fx, root, n_shards=PAIRS_SHARDS)

    cluster_sizes = fx.labels.groupby("true_cluster_id")["image_id"].transform("size")
    low = fx.pairs["phash"].to_numpy().astype(np.uint64) & np.uint64(
        (1 << BUCKET_BITS) - 1
    )
    _, counts = np.unique(low, return_counts=True)
    return {
        "rows": int(len(fx.pairs)),
        "near_dup_share": round(float((cluster_sizes > 1).mean()), 4),
        "hot_bucket_share": round(float(counts.max() / len(low)), 4),
        "override_rows": int(len(fx.overrides)),
        "scan": scan_shape(paths["pairs"]),
    }


# ---------------------------------------------------------------------------
# documents: the corpus-preparation table
# ---------------------------------------------------------------------------

# The generator mimics the graded sf fixtures' documents table, as
# measured on sf0.1 (5000 docs, one file, one row group):
# - every doc is one line of 10-100 words (median 54), each word drawn
#   uniformly from the same 30-word vocabulary ("a", "the" and 28 engine
#   words), whatever the language label;
# - language labels en 41.2%, zh 15.1%, es 14.9%, fr 14.8%, de 14.0%,
#   drawn independently of the text;
# - 5.0% of the docs (250) are near-duplicates: the text of another doc
#   of the corpus plus the word "dup".  The 0.16% exact duplicates are
#   pairs of these that copied the same doc; they are not planted.
# - no doc has a second line, so no line repeats inside a doc, no
#   boilerplate line is shared, and there are no bullets or digits.
# On sf0.1 the q02 oracle then drops 29.9% as near_dup, 32.7% as
# langid_mismatch, 15.6% as low_stopword_count, 2.3% as
# high_ngram_repetition, 0.5% as high_perplexity and 0.16% as exact_dup,
# and keeps 18.8%.
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_WORDS_RANGE = (10, 100)
DOC_LANG_SHARES = {"de": 0.140, "en": 0.412, "es": 0.149, "fr": 0.148, "zh": 0.151}
NEAR_DUP_SHARE = 0.05
NEAR_DUP_MARK = "dup"


def build_documents(root: str, seed: int, n_docs: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    langs = sorted(DOC_LANG_SHARES)
    weights = np.array([DOC_LANG_SHARES[lang] for lang in langs])
    lo, hi = DOC_WORDS_RANGE
    lengths = rng.integers(lo, hi + 1, n_docs)
    words = np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    base = [" ".join(w) for w in np.split(words, cuts)]
    texts = list(base)
    n_near = int(round(n_docs * NEAR_DUP_SHARE))
    near = rng.choice(n_docs, n_near, replace=False)
    for i, j in zip(near, rng.integers(0, n_docs, n_near)):
        texts[i] = f"{base[j]} {NEAR_DUP_MARK}"
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(langs)[rng.choice(len(langs), n_docs, p=weights / weights.sum())],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    _write_single(docs, os.path.join(root, "documents.parquet"))
    return {
        "rows": n_docs,
        "exact_dup_share": round(float(docs["text"].duplicated().mean()), 4),
        "near_dup_share": round(n_near / n_docs, 4),
        "lang_shares": {
            k: round(float(v), 4)
            for k, v in docs["lang"].value_counts(normalize=True).sort_index().items()
        },
        "mean_words": round(float(lengths.mean()), 2),
        "scan": scan_shape(os.path.join(root, "documents.parquet")),
    }


# ---------------------------------------------------------------------------
# events: the sessionization stream
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def make_events(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """sf-fixture-shaped events: ~67 events per user over 30 days, a
    skewed user mix (a fifth of the events from 5% of users)."""
    n_users = max(1, n // 67)
    hot = max(1, n_users // 20)
    users = np.where(
        rng.random(n) < 0.2, rng.integers(0, hot, n), rng.integers(0, n_users, n)
    )
    gaps = rng.exponential(26.0, n)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.round(np.cumsum(gaps) * 1e6).astype(np.int64), unit="us"
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": users.astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.random(n) * 100, 2),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)],
        }
    )


def build_events(root: str, seed: int, n_events: int) -> dict:
    ev = make_events(np.random.default_rng([seed, 2]), n_events)
    _write_single(ev, os.path.join(root, "events.parquet"))
    per_user = ev.groupby("user_id").size()
    return {
        "rows": n_events,
        "users": int(len(per_user)),
        "events_per_user": round(float(per_user.mean()), 2),
        "max_events_per_user": int(per_user.max()),
        "scan": scan_shape(os.path.join(root, "events.parquet")),
    }


def build_canary(root: str, seed: int, size: int) -> dict:
    """sf0.1-sized lineitem + events for bench.py's q01/q32 canaries."""
    rng = np.random.default_rng([seed, 3])
    n = size
    li = pd.DataFrame(
        {
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.random(n) * 1e5, 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": (
                pd.Timestamp("1992-01-01")
                + pd.to_timedelta(rng.integers(0, 3650, n), unit="D")
            ).astype("datetime64[us]"),
        }
    )
    _write_single(li, os.path.join(root, "lineitem.parquet"))
    _write_single(make_events(rng, n // 6), os.path.join(root, "events.parquet"))
    return {"lineitem_rows": n, "events_rows": n // 6}
