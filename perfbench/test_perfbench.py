"""Self-tests of the benchmark's checkers and metric names; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pears_fruit_fly_spark.fixtures.webtext import make_web_pages  # noqa: E402
from pears_fruit_fly_spark.functions.fly import (  # noqa: E402
    featurize_batch,
    make_projection_matrix,
)
from pears_fruit_fly_spark.functions.tokenizer import whitespace_tokenize  # noqa: E402

from perfbench import oracles as o  # noqa: E402
from perfbench import run  # noqa: E402
from perfbench import workloads as w  # noqa: E402


@pytest.fixture(scope="module")
def truth():
    raw = make_web_pages(80, v=w.VOCAB_SIZE, seed=3)
    docs = o.latest_texts(raw)
    docs["doc_id"] = np.arange(len(docs))[::-1]   # ids unrelated to row order
    vocab = w.vocab()
    proj = make_projection_matrix(vocab.size, w.FLY.kc_size, w.FLY.proj_size,
                                  w.FLY.seed)
    toks = [vocab.encode(whitespace_tokenize((t or "").replace("\n", " ")))
            for t in docs["text"]]
    sigs, _ = featurize_batch(toks, vocab.weights.astype(np.float32),
                              proj.astype(np.float32), w.FLY.top_words,
                              w.FLY.wta_percent)
    stored = pd.DataFrame({"url": docs["url"], "sig": list(sigs)})
    return o.Truth(docs, vocab, w.FLY, proj, stored)


def _ranked(truth, text="t1 t5 t40"):
    want = truth.bm25_ranked(text)
    assert len(want) > 12 and want[0][1] > want[1][1]
    return want


def test_ranked_checker_passes_oracle_result(truth):
    want = _ranked(truth)
    assert o.check_ranked(want[:10], want, 10) is None
    assert o.check_ranked(want[:1], want, 1) is None
    assert o.check_ranked([], truth.bm25_ranked("zz_oov_term"), 10) is None


def test_ranked_checker_flags_swapped_rank(truth):
    got = _ranked(truth)[:10]
    got[0], got[1] = got[1], got[0]
    assert o.check_ranked(got, _ranked(truth), 10) is not None


def test_ranked_checker_flags_dropped_doc(truth):
    want = _ranked(truth)
    assert o.check_ranked(want[:9], want, 10) is not None
    assert o.check_ranked(want[:4] + want[5:11], want, 10) is not None


def test_ranked_checker_flags_score_off_by_1e6(truth):
    got = list(_ranked(truth)[:10])
    got[3] = (got[3][0], got[3][1] + 1e-6)
    assert o.check_ranked(got, _ranked(truth), 10) is not None


def test_ranked_checker_flags_tie_order():
    want = [(3, 2.0), (5, 1.0), (7, 1.0)]
    assert o.check_ranked(want, want, 3) is None
    assert o.check_ranked([(3, 2.0), (7, 1.0), (5, 1.0)], want, 3) is not None


def test_bm25_oracle_respects_candidates_and_tombstones(truth):
    want = _ranked(truth)
    dead = {want[0][0], want[2][0]}
    got = truth.bm25_ranked("t1 t5 t40", excluded=dead)
    assert got == [p for p in want if p[0] not in dead]
    allowed = {want[1][0], want[4][0]}
    assert truth.bm25_ranked("t1 t5 t40", truth.doc_mask(allowed)) == [
        want[1], want[4]]


def test_hamming_checker(truth):
    want = truth.hamming_ranked("t1 t5 t40")
    got = list(reversed(want[:10]))       # engine rows come in no order
    assert o.check_hamming(got, want, 10) is None
    bad = [(got[0][0], got[0][1] + 1)] + got[1:]
    assert o.check_hamming(bad, want, 10) is not None
    assert o.check_hamming(got[1:], want, 10) is not None
    d = want[0][1]
    assert all(d <= x for _, x in want)


def test_phrase_oracle_semantics():
    """OOV tokens keep their position and break adjacency; separator runs do
    not (tests/test_phrase.py's brute force)."""
    vocab = w.vocab()
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4],
        "url": list("abcde"),
        "text": ["t1 t2 t3", "t1 zzz t2", "t1  t2", "t2\n\nt1 t2 t1 t2", None],
    })
    t = o.Truth(docs, vocab)
    assert t.phrase_tf("t1 t2") == {0: 1, 2: 1, 3: 2}
    assert t.phrase_tf("t1 zzz") == {}
    ranked = t.phrase_ranked("t1 t2")
    assert sorted(d for d, _ in ranked) == [0, 2, 3]
    assert o.check_ranked(ranked, ranked, 10) is None
    assert o.check_ranked(ranked[:2], ranked, 2) is None


def test_boolean_oracle_semantics():
    vocab = w.vocab()
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "url": list("abcd"),
        "text": ["t1 t2 t3", "t1 t4", "t2 t3 t1 t2", "t5"],
    })
    t = o.Truth(docs, vocab)
    assert {d for d, _ in t.boolean_ranked("+t1 -t4 t3", 10)} == {0, 2}
    assert {d for d, _ in t.boolean_ranked('+t1 "t2 t3"', 10)} == {0, 2}
    assert {d for d, _ in t.boolean_ranked("t2 -t3", 10)} == set()
    assert {d for d, _ in t.boolean_ranked("t4 t5 -t3", 10)} == {1, 3}
    # a term that is both required and excluded matches nothing
    assert t.boolean_ranked("+t1 -t1", 10) == []
    assert t.boolean_ranked("t1 -t1", 10) == []
    assert t.boolean_ranked('"t2 t3"', 10) == [(0, 0.0), (2, 0.0)]
    assert t.boolean_ranked("+zz_oov t1", 10) == []


def test_extraction_checker():
    raw = make_web_pages(20, v=w.VOCAB_SIZE, seed=5)
    got = raw[["url", "warc_ts"]].copy()
    got["text"] = o.expected_extraction(raw)
    assert got["text"].isna().sum() == 1          # the corrupt row 8
    assert o.check_extraction(raw, got) is None
    bad = got.copy()
    bad.loc[8, "text"] = raw.loc[8, "text"]
    assert o.check_extraction(raw, bad) is not None
    bad = got.copy()
    bad.loc[3, "text"] = bad.loc[3, "text"] + " "
    assert o.check_extraction(raw, bad) is not None
    assert o.check_extraction(raw, got.iloc[1:]) is not None


def test_url_checker(truth):
    d = int(truth.doc_ids[0])
    assert o.check_urls([{"doc_id": d, "url": truth.url_of[d]}], truth) is None
    assert o.check_urls([{"doc_id": d, "url": "https://elsewhere/"}],
                        truth) is not None


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [x["name"] for x in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_inputs_follow_the_seed():
    base = w.base_pages()
    batch = w.append_batch(base)
    texts = list(o.latest_texts(base)["text"])
    first = list(itertools.islice(w.reads(5), 6))
    assert first == list(itertools.islice(w.reads(5), 6))
    assert first != list(itertools.islice(w.reads(6), 6))
    assert [k for _, _, k in first[::2]] == [1, 10, 10]   # fixed shapes
    assert w.warmup_ops("serve", 5, texts) == w.warmup_ops("serve", 5, texts)
    assert {w.warmup_ops("serve", s, texts)[2][0] for s in range(4)} == set(
        w.HEAVY_OPS)
    dels = w.delete_urls(5, base, batch)
    assert dels == w.delete_urls(5, base, batch)
    assert len(dels) == w.DELETE_CALLS
    assert all(len(d) == w.DELETE_URLS for d in dels)
    assert len(set().union(*dels)) == w.DELETE_CALLS * w.DELETE_URLS  # disjoint
    recrawls = set(batch["url"]) & set(base["url"])
    assert len(recrawls) == int(w.APPEND_PAGES * w.RECRAWL_FRAC)
