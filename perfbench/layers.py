"""Per-layer measurements for the traced run.

Every figure comes from timing a call the benchmark makes into one
public function of the program, or from Spark's plan metrics for it:

* Spark stages L0–L5 over the workload's input, each into the same
  aggregate sink so neighbouring layers subtract cleanly:
  L0 scan + count/sum(length) (JVM only), L1 identity ``mapInArrow``,
  L2 L1 + ``to_pylist``, L3 L2 + ``tokenizer.tokenize``,
  L4 ``operators.extract.extract_text``, L5 ``extract_text`` written to
  parquet; plus ``operators.extract.events``.
* Single-core kernel timings in this process on a seeded sample:
  ``tokenize``, ``assemble.document_text``, ``assemble.collapse_ws``,
  ``entities.decode_entities``, ``project.project`` and the Arrow build
  of the projected columns.
* ``operators.textstats`` and ``operators.dedup`` on a slice of the
  workload's extracted text, with the curation job's dedup settings.
"""

from __future__ import annotations

import statistics

import planwalk
from spans import Trace

ROUNDS = 3


def _sink(df, col: str):
    from pyspark.sql import functions as F

    return df.agg(F.count("*"), F.sum(F.length(col)))


def _keyed(df):
    from pyspark.sql import functions as F

    return df.select(F.col("conv_id").cast("string"),
                     F.col("turn_idx").cast("int"), "text")


def _stage_fns():
    """The mapInArrow bodies of L1–L3; defined here so they are shipped
    to the Python workers by value."""
    from html_parser_spark.config import EXTRACT_CONFIG
    from html_parser_spark.functions.tokenizer import tokenize

    def identity(batches):
        yield from batches

    def to_pylist(batches):
        for rb in batches:
            rb.column("text").to_pylist()
            yield rb

    def tokenize_only(batches):
        for rb in batches:
            for doc in rb.column("text").to_pylist():
                tokenize(doc if isinstance(doc, str) else "", EXTRACT_CONFIG)
            yield rb

    return identity, to_pylist, tokenize_only


def spark_layers(df, out_dir: str, tr: Trace) -> tuple[dict, bool]:
    """Medians over ROUNDS rounds of L0–L5 and the events stage (the
    order flips every round so neither end is always the colder one),
    plus the L1 plan's Python transfer metrics. Also returns whether
    L0 <= L1 <= L2 <= L3 <= L4 holds within noise (the largest
    round-to-round range of those stages)."""
    from html_parser_spark.config import EXTRACT_CONFIG, ParserConfig
    from html_parser_spark.operators.extract import events, extract_text

    identity, to_pylist, tokenize_only = _stage_fns()
    keyed = _keyed(df)
    schema = "conv_id string, turn_idx int, text string"
    stages = {
        "spark.scan_s": lambda: _sink(df, "text"),
        "arrow.roundtrip_s": lambda: _sink(
            keyed.mapInArrow(identity, schema), "text"),
        "arrow.to_pylist_s": lambda: _sink(
            keyed.mapInArrow(to_pylist, schema), "text"),
        "tokenizer.stage_s": lambda: _sink(
            keyed.mapInArrow(tokenize_only, schema), "text"),
        "extract.stage_s": lambda: _sink(
            extract_text(df, EXTRACT_CONFIG), "extracted_text"),
        "events.stage_s": lambda: _sink(events(df, ParserConfig()), "text"),
        "extract.job_s": lambda: extract_text(df, EXTRACT_CONFIG),
    }
    plan, sinks = {}, {}
    for r in range(ROUNDS):
        names = list(stages) if r % 2 == 0 else list(stages)[::-1]
        for name in names:
            q = stages[name]()
            with tr.span(name, round=r):
                if name == "extract.job_s":
                    q.write.mode("overwrite").parquet(out_dir)
                else:
                    sinks[name] = q.collect()[0]
            if name == "arrow.roundtrip_s" and r == 0:
                plan = planwalk.sql_metrics(q)
    med = {k: statistics.median(tr.durations(k)[-ROUNDS:]) for k in stages}
    ladder = ["spark.scan_s", "arrow.roundtrip_s", "arrow.to_pylist_s",
              "tokenizer.stage_s", "extract.stage_s"]
    noise = max(max(tr.durations(k)[-ROUNDS:]) - min(tr.durations(k)[-ROUNDS:])
                for k in ladder)
    order_ok = all(med[a] <= med[b] + noise
                   for a, b in zip(ladder, ladder[1:]))
    n_turns = sinks["spark.scan_s"][0]
    return {
        **{k: v for k, v in med.items() if k != "extract.job_s"},
        "arrow.transfer_self_s": med["arrow.roundtrip_s"]
        - med["spark.scan_s"],
        "tokenizer.self_s": med["tokenizer.stage_s"]
        - med["arrow.to_pylist_s"],
        "assemble.self_s": med["extract.stage_s"] - med["tokenizer.stage_s"],
        "extract.write_s": med["extract.job_s"] - med["extract.stage_s"],
        "python.data_sent_mb": plan["python_data_sent_mb"],
        "python.data_received_mb": plan["python_data_received_mb"],
        "python.boot_s": plan["python_boot_s"],
        "events.rows_per_turn": sinks["events.stage_s"][0] / max(n_turns, 1),
        "extract.chars_out_per_char_in": sinks["extract.stage_s"][1]
        / max(sinks["spark.scan_s"][1], 1),
    }, order_ok


def _per(tr: Trace, name: str, fn, n: int) -> float:
    """Median over three passes of ``fn`` (one pass over the sample), in
    microseconds per item."""
    for _ in range(3):
        with tr.span(name):
            fn()
    return statistics.median(tr.durations(name)[-3:]) / max(n, 1) * 1e6


def kernel(texts: list[str], tr: Trace) -> dict:
    """Single-core timings of the per-turn kernel on ``texts``."""
    import pyarrow as pa

    from html_parser_spark.config import EXTRACT_CONFIG, ParserConfig
    from html_parser_spark.functions import assemble, project
    from html_parser_spark.functions.entities import decode_entities
    from html_parser_spark.functions.tokenizer import tokenize

    ev_cfg = ParserConfig(track_skipped_text=True)
    rows = [tokenize(d, EXTRACT_CONFIG) for d in texts]
    out = [assemble.document_text(d, r, EXTRACT_CONFIG)
           for d, r in zip(texts, rows)]
    raws = [x[9] if x[9] is not None else d[x[1]:x[2]]
            for d, r in zip(texts, rows) for x in r
            if x[0] == "text" and not x[4]]
    ev_rows = [tokenize(d, ev_cfg) for d in texts]
    n_ev = sum(len(r) for r in ev_rows)
    projected = [project.project(d, x, ev_cfg)
                 for d, r in zip(texts, ev_rows) for x in r]
    cols = {k: [p[k] for p in projected] for k in projected[0]} \
        if projected else {}
    types = {"offset": pa.int32(), "offset_end": pa.int32(),
             "length": pa.int32(), "line": pa.int32(),
             "column": pa.int32(), "is_cdata": pa.bool_(),
             "tokens": pa.list_(pa.string()),
             "tokenpos": pa.list_(pa.int32()),
             "attrseq": pa.list_(pa.string()),
             "attr": pa.map_(pa.string(), pa.string())}

    def build():
        for k, v in cols.items():
            pa.array(v, types.get(k, pa.string()))

    n = len(texts)
    return {
        "tokenizer.tokenize_us_per_turn": _per(
            tr, "kernel.tokenize",
            lambda: [tokenize(d, EXTRACT_CONFIG) for d in texts], n),
        "tokenizer.events_per_turn": sum(len(r) for r in rows) / max(n, 1),
        "assemble.document_text_us_per_turn": _per(
            tr, "kernel.document_text",
            lambda: [assemble.document_text(d, r, EXTRACT_CONFIG)
                     for d, r in zip(texts, rows)], n),
        "assemble.collapse_ws_us_per_turn": _per(
            tr, "kernel.collapse_ws",
            lambda: [assemble.collapse_ws(t) for t in out], n),
        "entities.decode_entities_us_per_call": _per(
            tr, "kernel.decode_entities",
            lambda: [decode_entities(s) for s in raws], len(raws)),
        "project.project_us_per_event": _per(
            tr, "kernel.project",
            lambda: [project.project(d, x, ev_cfg)
                     for d, r in zip(texts, ev_rows) for x in r], n_ev),
        "arrow.build_us_per_turn": _per(tr, "kernel.arrow_build", build, n),
    }


def curation_ops(extracted, planted: set[tuple[str, str]],
                 tr: Trace) -> dict:
    """textstats/dedup operators on extracted text (columns conv_id,
    turn_idx, text), with run_curation.py's dedup settings."""
    from pyspark.sql import functions as F

    from html_parser_spark.operators import dedup, textstats

    keys = ["conv_id", "turn_idx"]
    ex = extracted.cache()
    ex.count()
    out = {}
    with tr.span("textstats.gopher_quality_s"):
        textstats.gopher_quality(ex, keys, min_words=10).agg(
            F.sum(F.col("passes_gopher").cast("int"))).collect()
    with tr.span("textstats.lang_id_s"):
        textstats.lang_id(ex, keys).groupBy("lang_pred").count().collect()
    keyed = ex.withColumn("doc_key", F.concat_ws("#", "conv_id", "turn_idx"))
    with tr.span("dedup.minhash_signatures_s"):
        sigs = dedup.minhash_signatures(keyed, key_col="doc_key",
                                        num_hashes=8).cache()
        sigs.count()
    with tr.span("dedup.lsh_candidate_pairs_s"):
        pairs = dedup.lsh_candidate_pairs(
            sigs, key_col="doc_key", num_hashes=8, band_size=2,
            max_bucket=1_000_000).cache()
        found = {(r[0], r[1]) for r in pairs.collect()}
    with tr.span("dedup.dedup_canonical_s"):
        dedup.dedup_canonical(pairs).agg(
            F.count("*"), F.sum(F.col("is_canonical").cast("int"))).collect()
    for name in ("textstats.gopher_quality_s", "textstats.lang_id_s",
                 "dedup.minhash_signatures_s",
                 "dedup.lsh_candidate_pairs_s", "dedup.dedup_canonical_s"):
        out[name] = tr.durations(name)[-1]
    hit = len(found & planted)
    out["dedup.candidate_pairs"] = len(found)
    out["dedup.true_pair_frac"] = hit / max(len(found), 1)
    # no planted pair in the slice: nothing to miss
    out["dedup.recall"] = hit / len(planted) if planted else 1.0
    for df in (pairs, sigs, ex):
        df.unpersist()
    return out
