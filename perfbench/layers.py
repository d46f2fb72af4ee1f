"""Per-layer metrics of the traced run.

Every metric is measured from outside, around calls into public functions of
one module: Spark layers run to the noop sink (or, for build_postings, into a
scratch index) under their own job group; kernels run in this process on the
workload's corpus with no Spark at all, so kernel time can be set against the
Spark / Arrow / scheduling cost around it.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

PROBE_QUERIES = 3  # instrumented distributed WAND calls per k


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _best_of(fn, n: int = 3) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return min(times)


def measure(b) -> dict:
    """b: the finished perfbench.run.Bench (engine built, timed phase done)."""
    from pears_fruit_fly_spark.config import PostingsConfig
    from pears_fruit_fly_spark.functions.fly import featurize_batch
    from pears_fruit_fly_spark.operators.bm25 import (
        bm25_topk_wand,
        invalidate_index_cache,
        open_index,
        query_term_counts,
    )
    from pears_fruit_fly_spark.operators.codec import (
        decode_block,
        decode_blocks_batch,
        encode_blocks,
    )
    from pears_fruit_fly_spark.operators.docids import assign_doc_ids
    from pears_fruit_fly_spark.operators.phrase import phrase_match
    from pears_fruit_fly_spark.operators.postings import (
        build_postings,
        read_postings,
        tokenize_batch_kernel,
    )
    from pears_fruit_fly_spark.operators.signatures import (
        build_signatures,
        featurize_query,
        hamming_topk,
    )
    from pears_fruit_fly_spark.sources.wet import dedup_latest, extract_pages

    from pyspark.sql import functions as F

    from perfbench.oracles import latest_texts
    from perfbench.trace import StatusStore, covered_s

    spark, eng, tr, vocab, w = b.spark, b.eng, b.tr, b.vocab, b.w
    out = {"host.kernel_control_s": b.control_s,
           "session.start_s": b.session_s}
    spans = {}

    # -- build layers, each to the noop sink under its own job group --------
    raw = b.raw_sdf.drop("text")
    with tr.span("wet.extract") as s:
        _noop(extract_pages(raw))
    spans["wet.extract"] = s
    clean = dedup_latest(extract_pages(raw))
    with tr.span("docids.assign") as s:
        _noop(assign_doc_ids(clean))
    spans["docids.assign"] = s
    pages_ids = clean.join(spark.read.parquet(eng.docmap_path), "url")
    with tr.span("signatures.build") as s:
        _noop(build_signatures(spark, pages_ids, vocab, w.FLY,
                               projection=eng.projection))
    spans["signatures.build"] = s
    with tr.span("postings.build") as s:
        build_postings(spark, pages_ids, vocab, str(b.work / "probe_index"),
                       cfg=PostingsConfig(store_positions=True))
    spans["postings.build"] = s

    # -- query layers ---------------------------------------------------------
    sigs = spark.read.parquet(eng.sig_path).select("url", "sig")
    probe_q = [q for q, _ in w.bm25_queries(b.seed + 11)
               if query_term_counts(q, vocab)][:PROBE_QUERIES]
    with tr.span("signatures.hamming") as s:
        hamming_topk(sigs, featurize_query(probe_q[0], vocab, w.FLY,
                                           eng.projection), 10).collect()
    out["signatures.hamming_s"] = s["wall_s"]
    invalidate_index_cache(eng.index_dir)
    out["bm25.open_index_cold_s"] = _best_of(
        lambda: (invalidate_index_cache(eng.index_dir),
                 open_index(spark, eng.index_dir)), 1)
    out["bm25.open_index_warm_s"] = _best_of(
        lambda: open_index(spark, eng.index_dir))
    decoded = {10: [], 100: []}
    for q in probe_q:
        for k in (10, 100):
            inst: dict = {}
            with tr.span(f"bm25.scatter.k{k}") as s:
                bm25_topk_wand(spark, eng.index_dir, q, vocab, k=k,
                               instrument=inst).collect()
            spans.setdefault("bm25.scatter", []).append(s)
            decoded[k].append(inst["decoded_blocks"].value)
    texts = list(latest_texts(b.raw)["text"])
    phrases = w.phrase_queries(b.seed + 13, texts, n=2)
    for p in phrases:
        with tr.span("phrase.match") as s:
            _noop(phrase_match(spark, eng.index_dir, p, vocab))
        spans.setdefault("phrase.match", []).append(s)

    # -- kernels, no Spark ----------------------------------------------------
    docs = pd.DataFrame({"doc_id": np.arange(len(texts)), "text": texts})
    index = pd.Index(vocab.terms)
    t0 = time.perf_counter()
    toks = [tokenize_batch_kernel(docs.iloc[i:i + 512], index, "text",
                                  with_positions=True)
            for i in range(0, len(docs), 512)]
    out["postings.tokenize_kernel_s"] = time.perf_counter() - t0
    toks = [t for t in toks if t is not None]
    doc_id = np.concatenate([t["doc_id"] for t in toks])
    term_id = np.concatenate([t["term_id"] for t in toks]).astype(np.int64)
    tf = np.concatenate([t["tf"] for t in toks]).astype(np.int64)
    dl = np.concatenate([t["dl"] for t in toks]).astype(np.int64)

    per_doc = [[] for _ in range(len(texts))]
    for d, t, f in zip(doc_id.tolist(), term_id.tolist(), tf.tolist()):
        per_doc[d].extend([t] * f)
    weights = vocab.weights.astype(np.float32)
    proj = eng.projection.astype(np.float32)
    cfg = w.FLY
    t0 = time.perf_counter()
    for i in range(0, len(per_doc), 512):
        featurize_batch(per_doc[i:i + 512], weights, proj, cfg.top_words,
                        cfg.wta_percent)
    out["fly.featurize_kernel_s"] = time.perf_counter() - t0

    order = np.lexsort((doc_id, term_id))
    doc_id, term_id, tf, dl = doc_id[order], term_id[order], tf[order], dl[order]
    bounds = np.flatnonzero(np.diff(term_id)) + 1
    dl_doc = np.zeros(len(texts))
    dl_doc[doc_id] = dl
    avgdl = float(dl_doc.mean())
    t0 = time.perf_counter()
    for ids, tfs, dls in zip(np.split(doc_id, bounds), np.split(tf, bounds),
                             np.split(dl, bounds)):
        encode_blocks(ids, tfs, dls, avgdl, 1.2, 0.75)
    out["codec.encode_blocks_s"] = time.perf_counter() - t0

    # both decoders over the pruned blocks of the probe queries, pulled once
    qterms = sorted({t for q in probe_q for t in query_term_counts(q, vocab)})
    blocks = (read_postings(spark, eng.index_dir)
              .filter(F.col("term_id").isin(qterms))
              .select("n", "first_doc", "doc_gaps", "tfs", "dls").toPandas())
    out["bm25.candidate_blocks"] = float(len(blocks)) / len(probe_q)
    cols = [blocks[c].tolist() for c in ("n", "first_doc", "doc_gaps", "tfs", "dls")]
    out["codec.decode_blocks_batch_s"] = _best_of(lambda: decode_blocks_batch(*cols))
    rows = blocks.to_dict("records")
    out["codec.varbyte_decode_s"] = _best_of(
        lambda: [decode_block(r) for r in rows])

    # -- status store ---------------------------------------------------------
    store = StatusStore(spark).snapshot()

    def group(sp):
        return store.get(f"perfbench-{sp['op_id']}", {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "shuffle_write_bytes": 0,
            "result_bytes": 0, "intervals": []})

    def per_call(sps, key):
        return statistics.mean(group(s)[key] for s in sps)

    for name in ("wet.extract", "docids.assign", "signatures.build",
                 "postings.build"):
        out[f"{name}_s"] = spans[name]["wall_s"]
    out["docids.jobs"] = group(spans["docids.assign"])["jobs"]
    pb = group(spans["postings.build"])
    out["postings.jobs"] = pb["jobs"]
    out["postings.stage_shuffle_bytes"] = pb["shuffle_write_bytes"]
    out["postings.executor_cpu_s"] = pb["executor_cpu_s"]
    out["postings.kernel_frac"] = (out["postings.tokenize_kernel_s"]
                                   / max(pb["executor_run_s"], 1e-9))

    bm = [sp for (kind, _, _), _, _, sp in b.results
          if kind == "bm25" and sp["timed"]]
    for key, name in (("jobs", "jobs_per_query"), ("stages", "stages_per_query"),
                      ("tasks", "tasks_per_query"),
                      ("executor_run_s", "executor_run_s"),
                      ("executor_cpu_s", "executor_cpu_s"),
                      ("result_bytes", "result_bytes_per_query")):
        out[f"bm25.{name}"] = per_call(bm, key)
    out["bm25.driver_s"] = statistics.mean(
        s["wall_s"] - covered_s(group(s)["intervals"], s["start"], s["end"])
        for s in bm)
    sc = spans["bm25.scatter"]
    out["bm25.scatter_jobs_per_query"] = per_call(sc, "jobs")
    out["bm25.scatter_shuffle_bytes_per_query"] = per_call(sc, "shuffle_write_bytes")
    out["bm25.scatter_executor_run_s"] = per_call(sc, "executor_run_s")
    out["bm25.decoded_blocks_k10"] = statistics.mean(decoded[10])
    out["bm25.decoded_blocks_k100"] = statistics.mean(decoded[100])
    out["bm25.decode_frac"] = (out["bm25.decoded_blocks_k100"]
                               / max(out["bm25.candidate_blocks"], 1))
    ph = spans["phrase.match"]
    out["phrase.match_s"] = statistics.median(s["wall_s"] for s in ph)
    out["phrase.jobs_per_query"] = per_call(ph, "jobs")
    out["phrase.shuffle_bytes_per_query"] = per_call(ph, "shuffle_write_bytes")
    out["trace.wand_p50_s"] = statistics.median(s["wall_s"] for s in bm)
    return out
