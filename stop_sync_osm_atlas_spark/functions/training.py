"""Fused single-pass model training.

``q48_model_cascade`` (and any production cascade that gates on both
model signals) needs BOTH the hashed-n-gram NB language-ID model and the
char-bigram perplexity model trained from the same corpus. Training them
with the two individual trainers costs two full corpus scans and two
sequential driver-blocking jobs; at 100 TB the second scan doubles the
training I/O, and in a cold session each extra sequential job pays its
codegen + Python-worker fork latency serially (CLAUDE.md: cold wall
time ~ #sequential jobs).

``train_models_fused`` computes both models in ONE mapInPandas pass over
the corpus, one shuffle, one bounded collect (<= n_lang x HASH_DIM +
V^2 + n_lang rows — all aggregated counts, never text). Each model's
per-batch counter and model builder are the ones its distributed
trainer uses (``langid.nb_batch_counts``/``nb_model``,
``perplexity.bigram_batch_counts``/``bigram_model``);
``tests/test_model_pipeline.py`` asserts the fused outputs are
bit-identical to the individual trainers'.

Row encoding in the fused long-form frame (m, label, a, b, n, rows):
  m='lid', a=dim,  b=0   -> NB feature count (a=-1 row carries the
                            class prior row-count in ``rows``)
  m='ppl', a=prev, b=cur -> bigram transition count
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..session import widen_if_narrow
from .langid import nb_batch_counts, nb_model
from .perplexity import bigram_batch_counts, bigram_model


def train_models_fused(
    df, text_col: str = "text", label_col: str = "lang"
) -> tuple[dict, np.ndarray]:
    """One corpus pass -> (langid model dict, bigram log-prob matrix).

    Returns exactly what ``(train_langid_model_distributed(df),
    train_char_bigram_distributed(df))`` returns, for one scan instead
    of two (integer count adds commute, so fusing the passes cannot
    change either model).
    """

    def _both_counts(it):
        for pdf in it:
            lid = nb_batch_counts(pdf, text_col, label_col)
            ppl = bigram_batch_counts(pdf[text_col]).astype({"n": np.float64})
            yield pd.concat(
                [
                    lid.rename(columns={"dim": "a"}).assign(m="lid", b=0),
                    ppl.rename(columns={"prev": "a", "cur": "b"}).assign(
                        m="ppl", label="", rows=0
                    ),
                ],
                ignore_index=True,
            )[["m", "label", "a", "b", "n", "rows"]]

    # widen before the Python boundary, where the per-doc loop runs
    src = widen_if_narrow(df.select(F.col(text_col), F.col(label_col)))
    agg = (
        src.mapInPandas(
            _both_counts,
            schema="m string, label string, a int, b int, n double, rows long",
        )
        .groupBy("m", "label", "a", "b")
        .agg(F.sum("n").alias("n"), F.sum("rows").alias("rows"))
        .collect()
    )
    lid_model = nb_model(
        (r["label"], r["a"], r["n"], r["rows"]) for r in agg if r["m"] == "lid"
    )
    bigram = bigram_model((r["a"], r["b"], r["n"]) for r in agg if r["m"] == "ppl")
    return lid_model, bigram
