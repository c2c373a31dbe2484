"""KenLM-style character n-gram perplexity, Arrow-vectorized.

Bigram model with add-one smoothing over a fixed byte alphabet, trained
deterministically from a seeded corpus (FIXTURES.md §3 ``ngram_model``).
Scoring runs in a pandas UDF: per Arrow batch, one vectorized gather from
a (V, V) log-prob table — no per-row Python loops over long strings
beyond the O(len) codepoint mapping, no model re-load per batch.

This is the engine's analog of the reference's distance score: a
continuous quality signal fed into a threshold ladder
(reference matching_process/problem_detection.py:36-64).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Alphabet: printable ASCII 32..126 + OOV bucket + BOS.
_V = 97
_OOV = 95
_BOS = 96
_MAX_CHARS = 512


def _encode(t: str) -> np.ndarray:
    a = np.frombuffer(t[:_MAX_CHARS].encode("ascii", "replace"), dtype=np.uint8).astype(
        np.int32
    )
    a = a - 32
    a[(a < 0) | (a >= _OOV)] = _OOV
    return a


def train_char_bigram(texts: list[str]) -> np.ndarray:
    """(V, V) float64 log P(next | prev), add-one smoothed.

    float64 (not 32) so scores are bit-comparable with the DuckDB SQL
    oracle, which computes ln() in double — see oracle_sql()['q41_...'].
    """
    counts = np.ones((_V, _V), dtype=np.float64)
    for t in texts:
        if not isinstance(t, str) or not t:
            continue
        enc = _encode(t)
        prev = np.concatenate(([_BOS], enc[:-1]))
        np.add.at(counts, (prev, enc), 1.0)
    return np.log(counts / counts.sum(axis=1, keepdims=True))


def bigram_batch_counts(texts: "pd.Series") -> "pd.DataFrame":
    """One Arrow batch -> its nonzero (prev, cur, n) bigram counts."""
    counts = np.zeros((_V, _V), dtype=np.int64)
    for t in texts:
        if not isinstance(t, str) or not t:
            continue
        enc = _encode(t)
        if len(enc) == 0:
            continue
        prev = np.concatenate(([_BOS], enc[:-1]))
        np.add.at(counts, (prev, enc), 1)
    prev_i, cur_i = np.nonzero(counts)
    return pd.DataFrame({"prev": prev_i, "cur": cur_i, "n": counts[prev_i, cur_i]})


def bigram_model(rows) -> np.ndarray:
    """Aggregated ``(prev, cur, n)`` counts -> the log-prob table of
    ``train_char_bigram`` (same +1 smoothing)."""
    counts = np.ones((_V, _V), dtype=np.float64)
    for prev, cur, n in rows:
        counts[prev, cur] += n
    return np.log(counts / counts.sum(axis=1, keepdims=True))


def train_char_bigram_distributed(df, text_col: str = "text") -> np.ndarray:
    """Distributed counterpart of ``train_char_bigram``.

    At corpus scale the model must be trained without collecting text:
    each Arrow batch reduces to a local (V, V) count matrix; a tiny
    (prev, cur, n) long-form frame shuffles once and the driver only
    receives <= V^2 = 9409 aggregated rows. Exactly equal counts to the
    single-threaded trainer (integer adds commute).
    """
    agg = (
        df.select(text_col)
        .mapInPandas(
            lambda it: (bigram_batch_counts(pdf[text_col]) for pdf in it),
            schema="prev int, cur int, n long",
        )
        .groupBy("prev", "cur")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    return bigram_model(agg)


def perplexity_scores(texts: pd.Series, log_prob: np.ndarray) -> np.ndarray:
    out = np.full(len(texts), np.nan, dtype=np.float64)
    for i, t in enumerate(texts):
        if not isinstance(t, str) or not t:
            continue
        enc = _encode(t)
        if len(enc) == 0:
            continue
        prev = np.concatenate(([_BOS], enc[:-1]))
        ll = log_prob[prev, enc].sum()
        out[i] = float(np.exp(-ll / len(enc)))
    return out


def perplexity_udf(log_prob: np.ndarray):
    """NULL (not NaN) for rows with no scoreable text (None/empty/no
    encodable chars): `perplexity_scores` marks them NaN, but Spark's
    total order puts NaN ABOVE every double, so `ppl > threshold` would
    FIRE the high_perplexity rule on every blank row — while the pandas
    oracle (oracle.py 'marker path has no ppl signal') and a null-aware
    SQL mirror say False. NULL makes the comparison null -> the when
    falls through, aligning all three mirrors: an undefined signal
    never trips a threshold gate."""

    @F.pandas_udf(T.DoubleType())
    def _ppl(captions: pd.Series) -> pd.Series:
        vals = perplexity_scores(captions, log_prob)
        return pd.Series(vals, dtype="Float64").mask(np.isnan(vals), pd.NA)

    return _ppl
