"""Output checkers for every benchmark operation.

Each checker returns None when the engine's answer is right and a one-line
reason when it is wrong. The expected answers come from brute force over the
text the engine actually indexed (after dedup_latest, keyed by the engine's
own docmap ids), with the engine's exact semantics:

* BM25: oracle/bm25_numpy.BM25Oracle (k1=1.2, b=0.75, Lucene idf, dl = in-vocab
  token count, query tf weights). Scores within 1e-9, ranks exact, exact score
  ties ordered by doc_id. Appended segments: stats are the union over base and
  segments, i.e. one oracle over all docs. Deletes keep the pre-delete N, df
  and avgdl: score over all docs, then drop the tombstoned ones.
* Hamming: bit count of sig XOR featurize_query(text) over the stored
  signatures, ties by url.
* Phrase: sliding window over the non-empty whitespace tokens (OOV tokens keep
  their position, so they break adjacency); score = idf(phrase df) *
  impact(phrase tf, dl).
* Boolean: must / phrase clauses filter, must_not / not-phrase clauses
  subtract, must + should terms rank (operators/phrase.search_boolean).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pears_fruit_fly_spark.functions.tokenizer import whitespace_tokenize
from pears_fruit_fly_spark.oracle.bm25_numpy import BM25Oracle

TOL = 1e-9


def expected_extraction(raw: pd.DataFrame) -> pd.Series:
    """What extract_pages must return per row: the generated text, or None
    when the html payload is not UTF-8 (the corrupt fixture row)."""
    out = []
    for html, text in zip(raw["html"], raw["text"]):
        try:
            bytes(html).decode("utf-8")
        except UnicodeDecodeError:
            out.append(None)
        else:
            out.append(text)
    return pd.Series(out, index=raw.index, dtype=object)


def check_extraction(raw: pd.DataFrame, got: pd.DataFrame) -> str | None:
    """got: extract_pages output collected as (url, warc_ts, text)."""
    want = raw[["url", "warc_ts"]].copy()
    want["want"] = expected_extraction(raw)
    got = got.copy()
    for df in (want, got):  # Spark hands timestamps back tz-naive, in UTC
        df["warc_ts"] = pd.to_datetime(df["warc_ts"], utc=True).astype(
            "datetime64[us, UTC]")
    m = want.merge(got, on=["url", "warc_ts"], how="left", indicator=True)
    if len(m) != len(raw) or (m["_merge"] != "both").any():
        return f"extract_pages returned {len(got)} rows for {len(raw)} inputs"
    for u, w, g in zip(m["url"], m["want"], m["text"]):
        if (w is None) != (g is None or g is pd.NA) or (w is not None and w != g):
            return f"extracted text differs for {u}"
    return None


def latest_texts(raw: pd.DataFrame) -> pd.DataFrame:
    """dedup_latest over the expected extraction: (url, text), latest
    warc_ts per url."""
    df = raw[["url", "warc_ts"]].copy()
    df["text"] = expected_extraction(raw)
    df = df.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
    return df[["url", "text"]].reset_index(drop=True)


class Truth:
    """Brute-force view of one indexed corpus: docs are (doc_id, url, text)."""

    def __init__(self, docs: pd.DataFrame, vocab, fly_cfg=None, projection=None,
                 sigs: pd.DataFrame | None = None):
        docs = docs.sort_values("doc_id").reset_index(drop=True)
        self.vocab = vocab
        self.fly_cfg, self.projection = fly_cfg, projection
        self.doc_ids = docs["doc_id"].to_numpy(np.int64)
        self.url_of = dict(zip(self.doc_ids.tolist(), docs["url"]))
        texts = [t if isinstance(t, str) else None for t in docs["text"]]
        self.bm25 = BM25Oracle(list(zip(self.doc_ids.tolist(), texts)), vocab)
        self.k1, self.b = self.bm25.k1, self.bm25.b
        # full non-empty token streams as term ids, OOV = -1 (positions kept)
        t2i = vocab.term_to_id
        self.streams = [
            np.fromiter((t2i.get(t, -1) for t in
                         whitespace_tokenize((x or "").replace("\n", " "))),
                        dtype=np.int64)
            for x in texts
        ]
        self.sigs = sigs  # (url, sig) of every stored signature

    # -- bm25 --------------------------------------------------------------
    def bm25_ranked(self, text: str, allowed: np.ndarray | None = None,
                    excluded: set[int] | frozenset = frozenset()) -> list:
        """Every doc with a positive score, ranked: [(doc_id, score)]."""
        s = self.bm25.score_query(text)
        keep = s > 0.0
        if allowed is not None:
            keep &= allowed
        if excluded:
            keep &= ~np.isin(self.doc_ids, list(excluded))
        idx = np.flatnonzero(keep)
        order = idx[np.lexsort((self.doc_ids[idx], -s[idx]))]
        return [(int(self.doc_ids[i]), float(s[i])) for i in order]

    def doc_mask(self, doc_set) -> np.ndarray:
        return np.isin(self.doc_ids, np.fromiter(doc_set, dtype=np.int64))

    # -- hamming -----------------------------------------------------------
    def hamming_ranked(self, text: str, excluded_urls=frozenset()) -> list:
        """[(url, distance)] over the stored signatures, distance then url."""
        from pears_fruit_fly_spark.operators.signatures import featurize_query

        q = featurize_query(text, self.vocab, self.fly_cfg, self.projection)
        if not hasattr(self, "_sig"):
            self._sig = np.stack(self.sigs["sig"].to_numpy()).astype(np.int64)
        x = np.bitwise_xor(self._sig, np.asarray(q, dtype=np.int64)[None, :])
        dist = np.unpackbits(x.view(np.uint8), axis=1).sum(axis=1)
        pairs = [(u, int(d)) for u, d in zip(self.sigs["url"], dist)
                 if u not in excluded_urls]
        return sorted(pairs, key=lambda p: (p[1], p[0]))

    # -- phrase / boolean --------------------------------------------------
    def phrase_tf(self, phrase: str) -> dict[int, int]:
        """doc_id -> occurrences of the exact phrase (overlaps count)."""
        toks = whitespace_tokenize(phrase.replace("\n", " "))
        ids = [self.vocab.term_to_id.get(t) for t in toks]
        if not ids or any(i is None for i in ids):
            return {}
        w = len(ids)
        out = {}
        for d, s in zip(self.doc_ids.tolist(), self.streams):
            if s.size < w:
                continue
            hit = np.ones(s.size - w + 1, dtype=bool)
            for off, t in enumerate(ids):
                hit &= s[off:s.size - w + 1 + off] == t
            n = int(hit.sum())
            if n:
                out[d] = n
        return out

    def phrase_ranked(self, phrase: str, excluded=frozenset()) -> list:
        tf = {d: n for d, n in self.phrase_tf(phrase).items() if d not in excluded}
        if not tf:
            return []
        bm = self.bm25
        n_docs, avgdl = bm.n_docs, bm.avgdl
        w = np.log((n_docs - len(tf) + 0.5) / (len(tf) + 0.5) + 1.0)
        dl = dict(zip(self.doc_ids.tolist(), bm.dl))
        scored = []
        for d, f in tf.items():
            imp = f * (self.k1 + 1.0) / (
                f + self.k1 * (1.0 - self.b + self.b * dl[d] / avgdl))
            scored.append((d, float(w * imp)))
        return sorted(scored, key=lambda p: (-p[1], p[0]))

    def docs_with(self, term: str) -> set[int]:
        t = self.vocab.term_to_id.get(term)
        if t is None:
            return set()
        return {d for d, c in zip(self.bm25.doc_ids, self.bm25.doc_terms)
                if t in c}

    def boolean_ranked(self, query: str, k: int, excluded=frozenset()) -> list:
        from pears_fruit_fly_spark.operators.phrase import parse_query

        c = parse_query(query)
        t2i = self.vocab.term_to_id
        if any(t not in t2i for t in c["must"]):
            return []
        cand: set[int] | None = None
        for t in c["must"]:
            cand = self.docs_with(t) if cand is None else cand & self.docs_with(t)
        for p in c["phrases"]:
            m = set(self.phrase_tf(p))
            cand = m if cand is None else cand & m
        if (c["must_not"] or c["not_phrases"]) and cand is None:
            scoring = [t for t in c["must"] + c["should"] if t in t2i]
            if not scoring:
                return []
            cand = set().union(*(self.docs_with(t) for t in scoring))
        for t in c["must_not"]:
            cand -= self.docs_with(t)
        for p in c["not_phrases"]:
            cand -= set(self.phrase_tf(p))
        score_text = " ".join(c["must"] + c["should"])
        if not score_text:
            return [(d, 0.0) for d in sorted((cand or set()) - set(excluded))][:k]
        allowed = None if cand is None else self.doc_mask(cand)
        return self.bm25_ranked(score_text, allowed, excluded)


def check_ranked(got: list, want: list, k: int) -> str | None:
    """got: the engine's [(doc_id, score)] in returned order; want: the
    oracle's full ranked list. Scores must match rank by rank within TOL,
    every returned doc must carry its own oracle score, and exactly equal
    scores must come in doc_id order."""
    if len(got) != min(k, len(want)):
        return f"{len(got)} results, oracle has {min(k, len(want))}"
    true = dict(want)
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc_id in results"
    for i, ((d, s), (_, ws)) in enumerate(zip(got, want)):
        if abs(s - ws) > TOL:
            return f"rank {i}: score {s!r}, oracle {ws!r}"
        if d not in true or abs(true[d] - s) > TOL:
            return f"rank {i}: doc {d} does not score {s!r}"
        if i and got[i - 1][1] == s and got[i - 1][0] > d:
            return f"rank {i}: tie on {s!r} not in doc_id order"
    return None


def check_urls(rows: list, truth: Truth) -> str | None:
    for r in rows:
        if truth.url_of.get(int(r["doc_id"])) != r["url"]:
            return f"doc {r['doc_id']} returned with url {r['url']}"
    return None


def check_hamming(got: list, want: list, k: int) -> str | None:
    """got / want: [(url, distance)]; want is the full oracle ranking. The
    engine's hamming search returns its top-k rows in no defined order, so
    they are compared as a set; ties at the k-th distance go by url."""
    exp = want[:k]
    if sorted(got, key=lambda p: (p[1], p[0])) != exp:
        extra = sorted(set(got) - set(exp))[:2]
        missing = sorted(set(exp) - set(got))[:2]
        return (f"{len(got)} results vs {len(exp)}; unexpected {extra}, "
                f"missing {missing}")
    return None
