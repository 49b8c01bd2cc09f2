"""Single-process BM25 reference the benchmark checks every answer against.

It shares only the pinned tokenizer (``functions.analysis.tokenize_series``)
and the BM25 formula (``functions.bm25``) with the engine; postings, stats,
expansion, phrase matching and top-k are computed here with plain numpy.

The statistics follow the engine's segment model: between compactions
``N`` and ``avgdl`` cover live documents only, while ``df`` still counts the
postings of deleted and superseded versions (Lucene/ES behaviour). A
compaction makes ``df`` exact again.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from dynamo2es_lambda_spark.functions import analysis, bm25

SCORE_TOL = 1e-9
TIE_EXTRA = 16


def tokenize(texts) -> list[list[str]]:
    return [list(t) for t in analysis.tokenize_series(pd.Series(list(texts)))]


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class Reference:
    """Live documents plus the per-term df of every stored version."""

    def __init__(self, doc_ids: list[str], texts: list[str]) -> None:
        self.terms: dict[str, int] = {}
        self.slot_of: dict[str, int] = {}
        self.doc_ids: list[str] = []
        self.toks: list[np.ndarray] = []      # token ids per slot
        self.uniq: list[np.ndarray] = []      # distinct term ids per slot
        self.tfs: list[np.ndarray] = []       # their tfs
        self.live: list[bool] = []
        self.df_stored = np.zeros(0, np.int64)  # postings incl. dead ones
        self._index = None
        self.upsert(doc_ids, texts)

    # ---- maintenance -------------------------------------------------
    def _term_id(self, t: str) -> int:
        tid = self.terms.get(t)
        if tid is None:
            tid = self.terms[t] = len(self.terms)
        return tid

    def upsert(self, doc_ids: list[str], texts: list[str]) -> None:
        """Index new versions; a previous version of the doc becomes dead."""
        toks = tokenize(texts)
        lens = np.array([len(t) for t in toks], dtype=np.int64)
        flat = np.array([t for ts in toks for t in ts], dtype=object)
        codes, uniq = pd.factorize(flat)
        gid = np.array([self._term_id(t) for t in uniq], dtype=np.int64)
        ids = gid[codes] if codes.size else np.zeros(0, np.int64)
        # distinct (doc, term) pairs and their tfs, split back per doc
        doc = np.repeat(np.arange(len(toks), dtype=np.int64), lens)
        key, tf = np.unique(doc * len(self.terms) + ids, return_counts=True)
        key_doc = key // len(self.terms)
        cut = np.searchsorted(key_doc, np.arange(1, len(toks)))
        per_doc_terms = np.split(key % len(self.terms), cut)
        per_doc_tfs = np.split(tf, cut)
        per_doc_toks = np.split(ids, np.cumsum(lens)[:-1])
        for did, t_ids, u, c in zip(doc_ids, per_doc_toks, per_doc_terms,
                                    per_doc_tfs):
            old = self.slot_of.get(did)
            if old is not None:
                self.live[old] = False
            self.slot_of[did] = len(self.doc_ids)
            self.doc_ids.append(did)
            self.toks.append(t_ids)
            self.uniq.append(u)
            self.tfs.append(c)
            self.live.append(True)
        grow = len(self.terms) - self.df_stored.size
        self.df_stored = np.concatenate([self.df_stored,
                                         np.zeros(grow, np.int64)])
        np.add.at(self.df_stored, key % len(self.terms), 1)
        self._index = None

    def remove(self, doc_ids: list[str]) -> None:
        for did in doc_ids:
            self.live[self.slot_of.pop(did)] = False
        self._index = None

    def compact(self) -> None:
        """Drop dead versions: df becomes exact over live documents."""
        keep = [s for s, ok in enumerate(self.live) if ok]
        self.doc_ids = [self.doc_ids[s] for s in keep]
        self.toks = [self.toks[s] for s in keep]
        self.uniq = [self.uniq[s] for s in keep]
        self.tfs = [self.tfs[s] for s in keep]
        self.live = [True] * len(keep)
        self.slot_of = {d: i for i, d in enumerate(self.doc_ids)}
        self.df_stored[:] = 0
        if self.uniq:
            np.add.at(self.df_stored, np.concatenate(self.uniq), 1)
        self._index = None

    # ---- statistics --------------------------------------------------
    def _build_index(self):
        live = np.array(self.live, dtype=bool)
        slots = np.nonzero(live)[0]
        dl = np.array([len(self.toks[s]) for s in slots], dtype=np.float64)
        lens = np.array([self.uniq[s].size for s in slots], dtype=np.int64)
        term = (np.concatenate([self.uniq[s] for s in slots])
                if slots.size else np.zeros(0, np.int64))
        tf = (np.concatenate([self.tfs[s] for s in slots])
              if slots.size else np.zeros(0, np.int64))
        row = np.repeat(np.arange(slots.size), lens)
        order = np.argsort(term, kind="stable")
        term, tf, row = term[order], tf[order], row[order]
        bounds = np.searchsorted(term, np.arange(len(self.terms) + 1))
        self._index = {
            "slots": slots, "dl": dl, "row_tf": (row, tf), "bounds": bounds,
            "avgdl": float(dl.mean()) if dl.size else 0.0,
            "ids": np.array([self.doc_ids[s] for s in slots], dtype=object),
        }
        return self._index

    @property
    def index(self):
        return self._index or self._build_index()

    @property
    def n_live(self) -> int:
        return int(self.index["slots"].size)

    def live_postings(self) -> int:
        return int(self.index["row_tf"][0].size)

    def postings(self, t: str):
        """(live row indices, tfs) of term t."""
        ix = self.index
        tid = self.terms.get(t)
        if tid is None:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        lo, hi = ix["bounds"][tid], ix["bounds"][tid + 1]
        row, tf = ix["row_tf"]
        return row[lo:hi], tf[lo:hi]

    def _weight(self, t: str, qtf: int = 1) -> float:
        return (float(bm25.idf(self.n_live, self.df_stored[self.terms[t]]))
                * (bm25.K1 + 1.0) * qtf)

    def _accumulate(self, qterms, scores, matched):
        ix = self.index
        for t, qtf in qterms:
            rows, tf = self.postings(t)
            if rows.size == 0:
                continue
            w = self._weight(t, qtf)
            scores[rows] += w * bm25.tf_norm(tf, ix["dl"][rows], ix["avgdl"])
            matched[rows] += 1

    def _top(self, mask, scores, k):
        """Ranking by (score desc, doc_id asc), k + TIE_EXTRA long so the
        checker can see a tie group that k cuts."""
        ids = self.index["ids"]
        cand = np.nonzero(mask)[0]
        kk = k + TIE_EXTRA
        if cand.size > kk:
            floor = np.partition(scores[cand], cand.size - kk)[cand.size - kk]
            cand = cand[scores[cand] >= floor - SCORE_TOL]
        order = sorted(cand.tolist(), key=lambda r: (-scores[r], ids[r]))[:kk]
        return [(ids[r], float(scores[r])) for r in order]

    @staticmethod
    def qterms(text: str):
        return sorted(Counter(tokenize([text])[0]).items())

    # ---- queries -----------------------------------------------------
    def topk(self, query: str, k: int, mode: str = "or"):
        n = self.n_live
        scores, matched = np.zeros(n), np.zeros(n, np.int64)
        qterms = self.qterms(query)
        self._accumulate(qterms, scores, matched)
        need = len(qterms) if mode == "and" else 1
        return self._top((matched >= need) & (matched > 0), scores, k)

    def bool_topk(self, must: str, should: str, must_not: str, k: int):
        n = self.n_live
        ms, mm = np.zeros(n), np.zeros(n, np.int64)
        ss, sm = np.zeros(n), np.zeros(n, np.int64)
        ns, nm = np.zeros(n), np.zeros(n, np.int64)
        mt, st, nt = (self.qterms(q) for q in (must, should, must_not))
        self._accumulate(mt, ms, mm)
        self._accumulate(st, ss, sm)
        self._accumulate(nt, ns, nm)
        cand = (mm == len(mt)) if mt else (sm > 0)
        return self._top(cand & (nm == 0), ms + ss, k)

    def _expand_or(self, terms: list[str], k: int):
        n = self.n_live
        scores, matched = np.zeros(n), np.zeros(n, np.int64)
        self._accumulate([(t, 1) for t in terms], scores, matched)
        return self._top(matched > 0, scores, k)

    def prefix_topk(self, prefix: str, k: int, max_expansions: int):
        terms = sorted(t for t in self._stored_terms() if t.startswith(prefix))
        return self._expand_or(terms[:max_expansions], k)

    def fuzzy_topk(self, probe: str, k: int, max_edits: int,
                   max_expansions: int):
        cands = sorted(
            (_levenshtein(t, probe), t) for t in self._stored_terms()
            if abs(len(t) - len(probe)) <= max_edits
        )
        terms = [t for d, t in cands if d <= max_edits][:max_expansions]
        return self._expand_or(terms, k)

    def _stored_terms(self):
        """The engine's dictionary: every term with a stored posting."""
        return [t for t, i in self.terms.items() if self.df_stored[i] > 0]

    def phrase_topk(self, phrase: str, k: int):
        """Consecutive-token match scored as the AND score of the phrase's
        distinct terms (qtf-weighted)."""
        ptoks = tokenize([phrase])[0]
        if not ptoks or any(t not in self.terms for t in ptoks):
            return []
        pid = np.array([self.terms[t] for t in ptoks], dtype=np.int64)
        ix = self.index
        n = self.n_live
        scores, matched = np.zeros(n), np.zeros(n, np.int64)
        qterms = sorted(Counter(ptoks).items())
        self._accumulate(qterms, scores, matched)
        hit = np.zeros(n, dtype=bool)
        for r in np.nonzero(matched == len(qterms))[0]:
            seq = self.toks[ix["slots"][r]]
            m = len(seq) - pid.size + 1
            if m <= 0:
                continue
            ok = np.ones(m, dtype=bool)
            for j, t in enumerate(pid):
                ok &= seq[j:j + m] == t
            hit[r] = ok.any()
        return self._top(hit, scores, k)


def same_ranking(got: list[tuple[str, float]],
                 want: list[tuple[str, float]], k: int) -> bool:
    """Rank identity with scores to 1e-9 against the reference's ranking
    ``want`` (which may run past k). Docs whose scores tie within the
    tolerance may come in either order, and a tie group cut by k may keep
    any of its members: the last bits of a float sum depend on summation
    order, so exact float ties are not portable across implementations."""
    head = want[:k]
    if len(got) != len(head):
        return False
    if any(abs(g[1] - w[1]) > SCORE_TOL for g, w in zip(got, head)):
        return False
    i = 0
    while i < len(head):
        j = i + 1
        while j < len(want) and abs(want[j][1] - want[i][1]) <= SCORE_TOL:
            j += 1
        group = {w[0] for w in want[i:j]}
        mine = {g[0] for g in got[i:min(j, len(got))]}
        if not mine <= group:
            return False
        i = j
    return True
