"""Per-layer measurements for a traced run.

* Spark layers: stage times from prefix plans written to the ``noop``
  sink (scan → + salted repartition → + native quality expressions →
  the full plan with the enrich UDF), each prefix timed on its own.
* Serve layers: the enrich UDF body run in this process, single-core,
  over a fixed sample of the workload's own docs, with spans recorded
  around each layer's public function by patching module attributes.
  Workers are separate processes, so this is the only place the
  driver can see inside ``serve_doc``.
* Job layers: spans around ``IceliteTable.append`` / ``compact`` /
  ``committed_groups`` while ``run_quality_job`` runs in this process.
"""

from __future__ import annotations

import statistics
import time

from .trace import Tracer


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def prefix_plan_times(spark, prefix_dir: str, full_dir: str,
                      partitions: int) -> dict:
    """Incremental stage times of ``run_pipeline``'s plan. The three
    Python-free prefixes share ``prefix_dir``; the full plan runs on
    ``full_dir``, whose docs no worker has served yet."""
    from pii_spark.spark.pipeline import (quality_exprs, run_pipeline,
                                          salted_repartition)

    src = spark.read.parquet(prefix_dir).select("url", "text")
    scan = _noop(src)
    rep = _noop(salted_repartition(src, partitions))
    qual = _noop(salted_repartition(src, partitions)
                 .withColumns(quality_exprs()))
    full = _noop(run_pipeline(spark.read.parquet(full_dir),
                              partitions=partitions))
    return {
        "pipeline.scan_s": scan,
        "pipeline.repartition_s": rep - scan,
        "pipeline.quality_exprs_s": qual - rep,
        "pipeline.enrich_udf_s": full - qual,
    }


def enrich(texts: list[str]) -> None:
    """The enrich UDF body over one Arrow-like batch, in this process."""
    import pandas as pd

    from pii_spark.spark.pipeline import _enrich_fn

    for _ in _enrich_fn(iter([pd.Series(texts)])):
        pass


def _patch_serve_layers(tr: Tracer, on_tokens=None, on_cands=None,
                        on_doc=None) -> None:
    from pii_spark.detect import candidates, features, scrub, serving
    from pii_spark.quality import langid, perplexity

    tr.patch(serving, "serve_doc", "serving.serve_doc", on_doc)
    tr.patch(serving, "tokenize_with_offsets", "tokenizer.tokenize",
             on_tokens)
    tr.patch(serving, "detect_spans", "candidates.detect_spans")
    tr.patch(candidates, "format_candidates", "candidates.format", on_cands)
    tr.patch(candidates, "token_candidates", "candidates.token", on_cands)
    tr.patch(features, "featurize_doc_flat", "features.featurize")
    tr.patch(scrub, "scrub_text", "scrub.scrub_text")
    tr.patch(langid, "classify_batch", "langid.classify_batch")
    tr.patch(perplexity, "perplexity_batch", "perplexity.perplexity_batch")


def span_cost_us(calls: int = 200_000) -> float:
    """Microseconds one recorded span adds to a call: a wrapped no-op
    against the bare no-op. Times the serve sample's spans per doc, this
    is what the serve-layer spans cost per doc (an A/B of whole serve
    passes cannot resolve it: it is well under 1% of a doc)."""
    def noop(x):
        return x

    traced = Tracer().wrap(noop, "noop")
    t0 = time.perf_counter()
    for i in range(calls):
        noop(i)
    bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for i in range(calls):
        traced(i)
    return 1e6 * (time.perf_counter() - t0 - bare) / calls


def serve_layer_metrics(texts: list[str]) -> tuple[dict, Tracer]:
    """Per-layer (value, unit) pairs — ms/doc and counters — of the
    enrich UDF body over ``texts``, which this process has not served
    (load the models on other docs first)."""
    from pii_spark.config import MAX_TOKENS, SCRUB_TYPES

    counts = {"tokens": 0, "at_cap": 0, "cands": 0, "entities": 0}
    per_label = dict.fromkeys(SCRUB_TYPES, 0)

    def on_tokens(_args, res):
        counts["tokens"] += len(res[0]) - 2
        counts["at_cap"] += len(res[0]) >= MAX_TOKENS

    def on_cands(_args, res):
        counts["cands"] += len(res)
        for c in res:
            per_label[c.label] = per_label.get(c.label, 0) + 1

    def on_doc(_args, res):
        counts["entities"] += len(res.entities)

    tr = Tracer()
    _patch_serve_layers(tr, on_tokens, on_cands, on_doc)
    try:
        with tr.span("enrich.batch"):
            enrich(texts)
    finally:
        tr.restore()

    n = len(texts)

    def ms(name: str, self_only: bool = False) -> float:
        return tr.total_s(name, self_only) * 1000.0 / n

    doc_ms = sorted((sp.end - sp.start) / 1e6
                    for sp in tr.by_name("serving.serve_doc"))
    q = statistics.quantiles(doc_ms, n=100, method="inclusive")
    out = {
        "langid.ms_per_doc": (ms("langid.classify_batch"), "ms"),
        "perplexity.ms_per_doc": (ms("perplexity.perplexity_batch"), "ms"),
        "tokenizer.ms_per_doc": (ms("tokenizer.tokenize"), "ms"),
        "tokenizer.tokens_per_doc": (counts["tokens"] / n, "1/doc"),
        "tokenizer.docs_at_cap": (counts["at_cap"], "count"),
        "candidates.format_ms_per_doc": (ms("candidates.format"), "ms"),
        "candidates.token_ms_per_doc": (ms("candidates.token"), "ms"),
        "candidates.resolve_ms_per_doc":
            (ms("candidates.detect_spans", True), "ms"),
        "candidates.used_ratio": (counts["entities"] / counts["cands"]
                                  if counts["cands"] else 0.0, "ratio"),
        "features.ms_per_doc": (ms("features.featurize"), "ms"),
        "serving.head_decode_ms_per_doc":
            (ms("serving.serve_doc", True), "ms"),
        "serving.entities_per_doc": (counts["entities"] / n, "1/doc"),
        "serving.doc_ms_p50": (statistics.median(doc_ms), "ms"),
        "serving.doc_ms_p99": (q[98], "ms"),
        "scrub.ms_per_doc": (ms("scrub.scrub_text"), "ms"),
    }
    for lab in SCRUB_TYPES:
        out[f"candidates.per_doc.{lab}"] = (per_label[lab] / n, "1/doc")
    return out, tr


def patch_job_layers(tr: Tracer) -> None:
    """Spans around the icelite calls ``run_quality_job`` makes; appends
    are split by table (the audit table lives in a dir named audit)."""
    from pii_spark.icelite.catalog import IceliteTable

    tr.patch(IceliteTable, "append",
             lambda table, *a, **k: "icelite.audit_append"
             if table.dir.name == "audit" else "icelite.output_append")
    tr.patch(IceliteTable, "compact", "icelite.compact")
    tr.patch(IceliteTable, "committed_groups", "icelite.committed_groups")
