"""The benchmark's operations, their output checks and the traced layer
probes.

An operation is one closed-loop call into the engine's public API that
a user would make, forced to completion.  Its output is checked after
the timed region: against planted labels (pairs) or against the DuckDB
oracle SQL of ``__spark_entry__.oracle_sql()`` (documents, events).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from . import inputs

# Small enough that a round of runs fits its time limit: most of a run is
# fixed cost, and the q02 oracle check grows faster than linearly in the
# documents (perfbench/README.md, "Input sizes").
PAIRS_ROWS = 10_000
DOCS = 200
EVENTS = 50_000
# tiny inputs for the stream replay's warm-up
WARM_DOCS, WARM_EVENTS = 50, 2_000

F1_FLOOR = 0.99


def macro_f1(truth: pd.Series, pred: pd.Series) -> float:
    """Macro-F1 over the classes present in ``truth``."""
    pred = pred.fillna("<missing>")
    scores = []
    for c in sorted(truth.unique()):
        tp = int(((truth == c) & (pred == c)).sum())
        fp = int(((truth != c) & (pred == c)).sum())
        fn = int(((truth == c) & (pred != c)).sum())
        scores.append(2 * tp / (2 * tp + fp + fn) if tp else 0.0)
    return float(np.mean(scores))


def noop(df) -> None:
    """Force a lazy frame to completion without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def oracle_rows(entry, name: str, tables: dict[str, str], cache: str) -> pd.DataFrame:
    """DuckDB result of ``oracle_sql()[name]`` over the given parquet
    files, cached beside the input (it depends on the input only)."""
    if os.path.exists(cache):
        return pd.read_parquet(cache)
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
        for t, path in tables.items():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        df = con.sql(entry.oracle_sql()[name]).df()
    finally:
        con.close()
    tmp = f"{cache}.tmp{os.getpid()}"
    df.to_parquet(tmp, index=False)
    os.rename(tmp, cache)
    return pd.read_parquet(cache)


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets (``tools/verify_entry``'s
    canonicalization: ints and floats stay distinct), else a one-line
    reason."""
    from tools.verify_entry import canon

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    a, b = canon(got), canon(want)
    bad = sum(x != y for x, y in zip(a, b))
    return f"{bad} of {len(a)} rows differ from the oracle" if bad else None


class PairsPipeline:
    """``plans.pipeline.run_pipeline`` with overrides on seeded pairs."""

    alias, unit = "images_per_s", "images/s"

    def __init__(self, cache: str, seed: int):
        self.dir, self.meta = inputs.cached(cache, "pairs", seed, PAIRS_ROWS, inputs.build_pairs)
        self.rows = self.meta["properties"]["rows"]
        self.labels = None

    @property
    def input_meta(self) -> dict:
        return {"pairs": self.meta}

    def run(self, spark, out: str) -> str:
        from stop_sync_osm_atlas_spark.plans.pipeline import run_pipeline

        run_pipeline(
            spark,
            os.path.join(self.dir, "pairs.parquet"),
            out,
            overrides_path=os.path.join(self.dir, "overrides.parquet"),
        )
        return out

    def warm(self, spark, work: str) -> None:
        """The first, cold operation (part of set-up)."""
        shutil.rmtree(self.run(spark, os.path.join(work, "warm")))

    def check(self, out: str) -> tuple[float, str | None]:
        """-> (decision F1 vs planted labels, failure or None).  Every
        row decided exactly once, F1 >= 0.99, and every planted scrub
        row carries exactly the planted scrubbed caption."""
        if self.labels is None:
            self.labels = pd.read_parquet(os.path.join(self.dir, "pairs_labels.parquet"))
        dec = pd.read_parquet(
            os.path.join(out, "decisions"),
            columns=["image_id", "decision", "caption_scrubbed"],
        )
        shutil.rmtree(out, ignore_errors=True)
        if len(dec) != self.rows or dec["image_id"].nunique() != self.rows:
            return 0.0, f"{len(dec)} decision rows for {self.rows} input rows"
        m = self.labels.merge(dec, on="image_id", how="left")
        f1 = macro_f1(m["true_decision"], m["decision"])
        if f1 < F1_FLOOR:
            return f1, f"decision F1 {f1:.4f} < {F1_FLOOR}"
        scrub = m[m["true_decision"] == "scrub"]
        bad = int((scrub["caption_scrubbed"] != scrub["true_scrubbed_caption"]).sum())
        if bad:
            return f1, f"{bad} of {len(scrub)} scrub rows with a wrong scrubbed caption"
        return f1, None

    # ---- traced run ---------------------------------------------------

    def install_spans(self, tracer) -> list:
        from stop_sync_osm_atlas_spark.operators import cascade

        from .trace import wrap

        def map_rows(span, out):
            span.counts["map_rows"] = int(out[1])

        return [wrap(tracer, cascade, "neardup_phash_map", "neardup_phash_map", map_rows)]

    def traced(self, spark, tracer, out: str) -> str:
        with tracer.span("run_pipeline"):
            self.run(spark, out)
        return out

    def probes(self, spark, tracer, out: str, work: str) -> None:
        """Each lazy layer forced on its own, on the same input."""
        from stop_sync_osm_atlas_spark.functions.image import decode_validate_inline
        from stop_sync_osm_atlas_spark.operators.cascade import metrics_rollup, run_cascade
        from stop_sync_osm_atlas_spark.plans.pipeline import load_overrides, load_pairs
        from stop_sync_osm_atlas_spark.sources.checkpoint import CheckpointedWriter

        pairs = load_pairs(spark, os.path.join(self.dir, "pairs.parquet"))
        overrides = load_overrides(spark, os.path.join(self.dir, "overrides.parquet"))
        with tracer.span("decode_validate_inline"):
            noop(decode_validate_inline(pairs))
        with tracer.span("run_cascade"):
            noop(run_cascade(pairs, overrides=overrides))
        written = spark.read.parquet(os.path.join(out, "decisions"))
        with tracer.span("checkpoint_run"):
            CheckpointedWriter(os.path.join(work, "rewrite")).run(written)
        with tracer.span("metrics_rollup"):
            noop(metrics_rollup(written, run_id="probe"))
        shutil.rmtree(os.path.join(work, "rewrite"), ignore_errors=True)


class CorpusPrep:
    """``plans.corpus.prepare_corpus`` with the q02 config, consumed the
    way entry q02 grades it (``__spark_entry__.q02_corpus_prep``)."""

    alias, unit = "docs_per_s", "docs/s"

    def __init__(self, cache: str, seed: int):
        self.dir, self.meta = inputs.cached(cache, "documents", seed, DOCS, inputs.build_documents)
        self.rows = self.meta["properties"]["rows"]
        self.expected = None
        self.models = None

    @property
    def input_meta(self) -> dict:
        return {"documents": self.meta}

    def run(self, spark, out: str | None = None) -> pd.DataFrame:
        import __spark_entry__ as entry

        return entry.q02_corpus_prep(spark, self.dir).toPandas()

    def warm(self, spark, work: str) -> None:
        """The first, cold operation (part of set-up)."""
        self.run(spark)

    def check(self, got: pd.DataFrame) -> tuple[float, str | None]:
        """-> (decision F1 vs the oracle's decisions, failure or None):
        both output frames equal ``oracle_sql()['q02_corpus_prep']``."""
        import __spark_entry__ as entry

        if self.expected is None:
            self.expected = oracle_rows(
                entry,
                "q02_corpus_prep",
                {"documents": os.path.join(self.dir, "documents.parquet")},
                os.path.join(self.dir, "expected_q02.parquet"),
            )
        want = self.expected
        d_got = got[got["mode"] == "decision"].set_index("doc_id")["decision"]
        d_want = want[want["mode"] == "decision"].set_index("doc_id")["decision"]
        f1 = macro_f1(d_want, d_got.reindex(d_want.index))
        return f1, same_rows(got, want)

    # ---- traced run ---------------------------------------------------

    def install_spans(self, tracer) -> list:
        from stop_sync_osm_atlas_spark.plans import corpus

        from .trace import wrap

        def keep_models(span, out):
            self.models = out

        return [wrap(tracer, corpus, "train_models_fused", "train_models_fused", keep_models)]

    def traced(self, spark, tracer, out: str | None = None) -> pd.DataFrame:
        with tracer.span("prepare_corpus"):
            return self.run(spark)

    def probes(self, spark, tracer, got: pd.DataFrame, work: str) -> None:
        from pyspark.sql import functions as F

        from stop_sync_osm_atlas_spark.functions.langid import langid_hashed_ngram_udf
        from stop_sync_osm_atlas_spark.functions.perplexity import perplexity_udf
        from stop_sync_osm_atlas_spark.operators.dedup import minhash_lsh_pairs
        from stop_sync_osm_atlas_spark.operators.lines import clean_lines
        from stop_sync_osm_atlas_spark.operators.packing import pack_bins

        docs = spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        with tracer.span("clean_lines"):
            noop(clean_lines(docs, max_line_df=2, with_stats=True))
        # probe input, materialized outside any span
        text = clean_lines(docs, max_line_df=2).select(
            "doc_id", F.col("text_clean").alias("text")
        ).localCheckpoint()
        with tracer.span("minhash_lsh_pairs") as s:
            s.counts["lsh_pairs"] = minhash_lsh_pairs(text).count()
        lid_model, bigram = self.models
        lid, ppl = langid_hashed_ngram_udf(lid_model), perplexity_udf(bigram)
        with tracer.span("langid_udf"):
            noop(text.select(lid(F.col("text")).alias("lid")))
        with tracer.span("perplexity_udf"):
            noop(text.select(ppl(F.col("text")).alias("ppl")))
        kept = got[(got["mode"] == "decision") & (got["decision"] == "keep")]
        kept_df = spark.createDataFrame(
            kept[["doc_id", "lang", "n_tok"]].astype({"doc_id": "int64", "n_tok": "int64"})
        )
        with tracer.span("pack_bins"):
            noop(pack_bins(kept_df, F.col("n_tok"), budget=512))
        text.unpersist()


SESSION_SINK = "perfbench_session_sink"
# streaming query name -> span name
ARMS = {
    "q53_dedup_sink": "stream_exact_dedup",
    "q53_decision_sink": "stream_decisions",
    "q53_metrics_sink": "stream_metrics",
    SESSION_SINK: "stream_sessionize",
}


class StreamReplay:
    """The rule and scrub ladder per micro-batch with state stores, plus
    a staging write: the three q53 arms through
    ``streaming.stream.stage_and_drain_many`` over the derived pairs of
    the documents, then ``stage_and_drain`` with ``stream_sessionize``
    over the slim (event_id, ts, user_id) projection of the events."""

    def __init__(self, cache: str, seed: int):
        self.docs_dir, self.docs_meta = inputs.cached(cache, "documents", seed, DOCS, inputs.build_documents)
        self.ev_dir, self.ev_meta = inputs.cached(cache, "events", seed, EVENTS, inputs.build_events)
        self.warm_docs, _ = inputs.cached(cache, "documents", seed, WARM_DOCS, inputs.build_documents)
        self.warm_ev, _ = inputs.cached(cache, "events", seed, WARM_EVENTS, inputs.build_events)
        self.expected: dict[str, pd.DataFrame] = {}

    @property
    def input_meta(self) -> dict:
        return {"documents": self.docs_meta, "events": self.ev_meta}

    @property
    def rates(self) -> list[tuple[str, str, int]]:
        """(parent span, throughput metric, input rows per operation)."""
        return [
            ("stage_and_drain_many", "stream_rows_per_s", self.docs_meta["properties"]["rows"]),
            ("stage_and_drain", "session_events_per_s", self.ev_meta["properties"]["rows"]),
        ]

    def run_q53(self, spark, docs_dir: str | None = None) -> pd.DataFrame:
        import __spark_entry__ as entry

        return entry.q53_stream_dedup(spark, docs_dir or self.docs_dir).toPandas()

    def run_sessions(self, spark, ev_dir: str | None = None) -> pd.DataFrame:
        from pyspark.sql import functions as F

        from stop_sync_osm_atlas_spark.streaming.stream import (
            stage_and_drain,
            stream_sessionize,
        )

        ev_dir = ev_dir or self.ev_dir
        events = spark.read.parquet(os.path.join(ev_dir, "events.parquet"))
        sink = stage_and_drain(
            spark,
            events.where(F.col("ts").isNotNull()).select("event_id", "ts", "user_id"),
            stream_sessionize,
            SESSION_SINK,
            tag=ev_dir,
            output_mode="update",
        )
        return (
            sink.groupBy("user_id")
            .agg(F.max("n_sessions").alias("n_sessions"), F.max("n_events").alias("n_events"))
            .toPandas()
        )

    def warm(self, spark) -> None:
        self.run_q53(spark, self.warm_docs)
        self.run_sessions(spark, self.warm_ev)

    def check(self, q53: pd.DataFrame, sessions: pd.DataFrame) -> tuple[float, str | None]:
        """Equality with the stream-mode rows of the q53 and q19 oracles."""
        import __spark_entry__ as entry

        tables = {
            "documents": os.path.join(self.docs_dir, "documents.parquet"),
            "events": os.path.join(self.ev_dir, "events.parquet"),
        }
        for q, d in (("q53_stream_dedup", self.docs_dir), ("q19_sessionize", self.ev_dir)):
            if q not in self.expected:
                self.expected[q] = oracle_rows(entry, q, tables, os.path.join(d, f"expected_{q[:3]}.parquet"))
        want53 = self.expected["q53_stream_dedup"]
        want19 = self.expected["q19_sessionize"]
        want19 = want19[want19["mode"] == "stream"].drop(columns="mode")
        d_got = q53[q53["mode"] == "decision"].set_index("fp")["decision"]
        d_want = want53[want53["mode"] == "decision"].set_index("fp")["decision"]
        f1 = macro_f1(d_want, d_got.reindex(d_want.index))
        return f1, same_rows(q53, want53) or same_rows(sessions, want19)

    def traced(self, spark, tracer, queries) -> tuple[pd.DataFrame, pd.DataFrame]:
        """Both operations inside their parent spans; each streaming
        query becomes a child span (listener events, runId job group).
        ``stage_s`` = call to the first query start: the staging write."""
        out = []
        for parent, fn in (("stage_and_drain_many", self.run_q53), ("stage_and_drain", self.run_sessions)):
            with tracer.span(parent) as p:
                out.append(fn(spark))
            arms = queries.spans_for(p)
            queries.wait_done([a.run_id for a in arms])
            arms = queries.spans_for(p)
            for a in arms:
                a.name = ARMS.get(a.name, a.name)
                tracer.spans.append(a)
            p.counts["stage_s"] = (min(a.start for a in arms) - p.start) if arms else 0.0
        return out[0], out[1]
